package graft.operators

/** The driver tier: how many rows a query may pull to the driver when the
  * size is set by the data's duplicate or graph structure rather than by
  * construction — the near-dup pair lists and pHash edges the session memo
  * holds (their component maps have at most twice as many rows), and the
  * edge lists PageRank and triangle counting fold on the driver. 200k
  * two-long rows are about 3 MB. Past it each site keeps its distributed
  * path.
  */
object DriverTier {
  val MaxRows: Long = 200000L
}
