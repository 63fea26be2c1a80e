package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Seeded clustered geometry in the shape of `graft.tools.ProbeGen`:
  * points are a per-cluster center plus per-point noise, every component
  * drawn from xxhash64 of (seed, stream, key..., dim) — so a vector is a
  * pure function of its id, its version and the seed.
  *
  * The same function generates the corpus on the executors and, on the
  * driver, the query batches, the ingest batches and the expected vector
  * behind every distance the engine returns, so every result is checked
  * without collecting the corpus.
  *
  * Differences from ProbeGen, each chosen for the benchmark:
  *   - the seed is mixed into every hash, so seeds give independent
  *     corpora;
  *   - clusters hold `clusterSize` points with noise `spread`. ProbeGen's
  *     10-point, ±0.2 clusters make the k=10 neighbours of a query its
  *     own well-separated cluster, where LSH recall saturates at 1.0 and
  *     a quality loss cannot show; wider clusters put recall below 1;
  *   - `dims` above 64 tiles the 64-d clustered base with per-tile
  *     jitter (the ScaleProbe/AngularScaleProbe recipe for the 256-d
  *     NYTimes shape).
  */
final case class Gen(seed: Long, dims: Int, clusterSize: Int, spread: Double) {
  import Gen._

  private def center(c: Long, i: Long): Double =
    (Math.floorMod(hash(seed, 1L, c, i), 2000L).toDouble - 1000.0) / 250.0
  private def noise(id: Long, ver: Long, i: Long): Double =
    (Math.floorMod(hash(seed, 2L, id, ver, i), 2000L).toDouble - 1000.0) / 1000.0 * spread
  private def jitter(id: Long, ver: Long, j: Long): Double =
    (Math.floorMod(hash(seed, 3L, id, ver, j), 1000L).toDouble - 500.0) / 5000.0

  /** Driver form: corpus vector `id` at `version` (0 = base corpus). */
  def vector(id: Long, version: Long): Array[Double] =
    point(id / clusterSize, id, version)

  /** Driver form: query `qid` of `stream` (distinct streams never share
    * query vectors): a fresh point around a seeded-random cluster. */
  def query(stream: Long, qid: Long, nClusters: Long): Array[Double] = {
    val c = Math.floorMod(hash(seed, 4L, stream, qid), nClusters)
    point(c, -1L - qid, stream + 1000L)
  }

  private def point(c: Long, id: Long, ver: Long): Array[Double] =
    Array.tabulate(dims) { j =>
      val i = j % BaseDims
      val base = center(c, i) + noise(id, ver, i)
      if (dims == BaseDims) base else base + jitter(id, ver, j)
    }

  /** (vec_id, embedding) for ids [0, n), version 0, generated where
    * the rows live (one task per core). */
  def corpus(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val g = this
    spark.range(n).as[Long].map(id => (id, g.vector(id, 0L))).toDF("vec_id", "embedding")
  }

}

object Gen {
  val BaseDims = 64

  /** Spark's xxhash64 over LongType children: the running hash seeds
    * the next child, starting at 42. */
  def hash(parts: Long*): Long = parts.foldLeft(42L)((h, v) => XXH64.hashLong(v, h))
}
