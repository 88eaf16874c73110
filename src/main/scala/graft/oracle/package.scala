package graft

package object oracle {
  /** Another name for [[SemanticOracle]], whose `*Batch` methods every
    * oracle carries; kept for callers that extend it by this name.
    */
  type BatchedOracle = SemanticOracle
}
