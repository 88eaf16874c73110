package graft.cube

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.oracle.SemanticOracle
import graft.plan.PlanJson

/** Durable form of the [[CubeCatalog]] memory DAG (the 100 TB reuse story
  * the reference's in-memory DAG, OLAP_Memory.py:137-145, cannot give):
  * each non-root node's result is MATERIALIZED to parquet alongside a
  * `meta.json` carrying the query text, canonical predicate atoms, and the
  * plan IR (the reference wire format, so saved catalogs interop with the
  * golden-plan tooling). Granularity views persist the same way. A fresh
  * session `load`s the catalog and answers refinement queries from the
  * materialized nodes — the base scan happens once per subsumption chain
  * ACROSS sessions, not once per session.
  *
  * Layout under `path/`:
  *   meta.json                      — nodes + dims + granularity index
  *   node_<id>/                     — parquet of the node's filtered frame
  *   gran_<id>_<dim>_<name>/        — parquet of a granularity view
  *   gsum_<id>_<dim>_<name>/        — parquet of its summary (if any)
  *
  * The ROOT frame is never copied: at scale the base table already lives
  * on storage; `load` takes it as an argument (same contract as the
  * constructor).
  */
object CatalogStore {
  private val mapper = new ObjectMapper()
  private val nf = JsonNodeFactory.instance

  def save(cat: CubeCatalog, path: String): Unit = {
    val root = nf.objectNode()
    val nodesArr = root.putArray("nodes")
    cat.all.foreach { n =>
      val o = nodesArr.addObject()
      o.put("id", n.id)
      o.put("query", n.query)
      o.put("plan", PlanJson.encodePlan(n.plan))
      o.put("filter_ops", PlanJson.encodePlan(n.filterOps))
      if (n.filterOps.isEmpty)
        n.predicates.toSeq.sorted.foldLeft(o.putArray("key"))(_.add(_))
      if (n.id != 0)
        n.df.write.mode("overwrite").parquet(s"$path/node_${n.id}")
      val dimsArr = o.putArray("dims")
      n.dims.toSeq.sortBy(_._1).foreach { case (dcol, dv) =>
        val d = dimsArr.addObject()
        d.put("column", dcol)
        val gArr = d.putArray("granularities")
        dv.granularities.toSeq.sortBy(_._1).foreach { case (gname, g) =>
          val go = gArr.addObject()
          go.put("name", gname)
          go.put("plan", PlanJson.encodePlan(g.plan))
          go.put("has_summary", g.summary.isDefined)
          g.view.write.mode("overwrite")
            .parquet(s"$path/gran_${n.id}_${dcol}_$gname")
          g.summary.foreach(_.write.mode("overwrite")
            .parquet(s"$path/gsum_${n.id}_${dcol}_$gname"))
        }
      }
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "meta.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
  }

  /** Rebuild a catalog in a (possibly fresh) session. Node frames read
    * straight from the materialized parquet — NOT re-derived from root —
    * so a subsequent `filterQuery` refinement scans only the (smaller)
    * persisted node. Predicates are re-derived from the decoded filter
    * ops, keeping the subsumption key and the implication machinery in
    * sync with what actually executes; a node without them (keyed by a
    * logic tree) keeps its saved key, as an empty one would be any
    * query's base.
    */
  def load(spark: SparkSession, root: DataFrame, path: String,
      oracle: SemanticOracle): CubeCatalog = {
    val cat = new CubeCatalog(root, oracle)
    val meta = mapper.readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(path, "meta.json")))
    def readDims(o: com.fasterxml.jackson.databind.JsonNode,
        id: Int): Map[String, DimensionViews] =
      o.get("dims").asScala.map { d =>
        val dcol = d.get("column").asText
        val grans = d.get("granularities").asScala.map { go =>
          val gname = go.get("name").asText
          val summary =
            if (go.get("has_summary").asBoolean)
              Some(spark.read.parquet(s"$path/gsum_${id}_${dcol}_$gname"))
            else None
          gname -> Granularity(gname,
            spark.read.parquet(s"$path/gran_${id}_${dcol}_$gname"),
            PlanJson.decodePlan(go.get("plan").asText), summary)
        }.toMap
        dcol -> DimensionViews(dcol, grans)
      }.toMap
    meta.get("nodes").asScala.toSeq.sortBy(_.get("id").asInt).foreach { o =>
      val id = o.get("id").asInt
      if (id == 0) {
        // the root's frame is the caller-supplied base table, but any dims
        // ever attached to the root must survive the round-trip
        cat.attachRootDims(readDims(o, 0))
      } else {
        val plan = PlanJson.decodePlan(o.get("plan").asText)
        val filterOps = PlanJson.decodePlan(o.get("filter_ops").asText)
        val df = spark.read.parquet(s"$path/node_$id")
        val key = Option(o.get("key")).map(_.asScala.map(_.asText).toSet)
          .getOrElse(PredicateAtoms.atoms(filterOps))
        cat.register(CubeNode(id, o.get("query").asText, key, df,
          readDims(o, id), plan, filterOps))
      }
    }
    cat
  }
}
