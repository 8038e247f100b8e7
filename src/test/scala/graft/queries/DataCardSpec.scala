package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestSupport

/** t80/s35's data card serves its means from per-source sums. A mean
  * that sits exactly on a 4-dp rounding boundary must come out the same
  * whatever order the rows are summed in: the streaming fold (s35)
  * sums its accumulated state in arrival order, the batch query (t80)
  * in scan order, and the DuckDB oracle in its own. */
class DataCardSpec extends AnyFunSuite with SparkTestSupport {
  import spark.implicits._

  test("mean_quality on a 4-dp boundary is independent of row order and partitioning") {
    // Σq = 2.5330 over 4 docs: the mean is 0.63325 exactly, which
    // rounds half-up to 0.6333. As a double sum, summing these in
    // reverse order lands just below the boundary (0.6332).
    val qs = Seq(0.7061, 0.7529, 0.4909, 0.5831)
    val rows = qs.zipWithIndex.map { case (q, i) => (i.toLong, "src", "en", 10L, q, 0.0, s"fp$i") }
    val docs = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val sh = graft.operators.Dedup.contaminationShingles(docs, col("text"), col("doc_id"), n = 4)
    val tg = TextQueries.knTrigrams(docs)
    def feat(rs: Seq[(Long, String, String, Long, Double, Double, String)], parts: Int): DataFrame =
      spark.sparkContext.parallelize(rs, parts)
        .toDF("doc_id", "source", "lang_det", "tok", "q", "dupf", "fp")
    def meanQuality(f: DataFrame): Seq[Double] =
      TextQueries.dataCardServe(f, sh, sh, tg).select(col("mean_quality")).as[Double].collect().toSeq
    for ((rs, parts) <- Seq((rows, 1), (rows.reverse, 1), (rows, 4), (rows.reverse, 3)))
      assert(meanQuality(feat(rs, parts)) === Seq(0.6333), s"order ${rs.map(_._5)} in $parts partitions")
  }
}
