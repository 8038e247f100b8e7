package graft.model

/** A stream element: dense feature vector + ground-truth label (unused in
  * learning, kept for evaluation) + unique point id.
  * Mirrors the reference's `pointObj` (pointObj.scala:11-15) with
  * `Array[Double]` instead of a Breeze vector so the Spark `Encoder` maps
  * it to `ArrayType(DoubleType)` and the built-in HOFs apply. */
final case class Point(features: Array[Double], label: Int, id: Long)

/** A cluster centroid / graph node. Mirrors the reference's `prototype`
  * (pointObj.scala:22-26): centroid vector, a node id (monotonic here —
  * the reference's `nodes.length+1` scheme collides after removals,
  * SURVEY §7.4.4), and — in place of the reference's set of the ids of
  * all points ever assigned — their count `nAssigned`: 1 for a
  * bootstrap node (its seed point), 0 for an inserted node, plus each
  * batch's won-point count. It equals the number of distinct assigned
  * ids only under the unique-id contract (every streamed point id is
  * new): a bootstrap point that is streamed again is counted twice. */
final case class Prototype(id: Int, centroid: Array[Double], nAssigned: Long) {
  /** Snapshot rendering: "x, y, ..." — the reference's on-disk centroid
    * format (pointObj.scala:16-18). */
  def centroidString: String = centroid.mkString(", ")
}
