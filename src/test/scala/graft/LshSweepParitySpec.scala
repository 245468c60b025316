package graft

import org.apache.spark.sql.functions._

/** C14's r10 signature-family decomposition (closed-form family pairs
  * + n_a·n_b-weighted rep pairs + in-task windowed flags) must equal
  * the naive shape it replaced — materialize every banded candidate
  * pair, distinct, then count — on the registry corpus. This is the
  * exact-pair-identity contract that keeps the unchanged DuckDB
  * oracle valid after the sf100 spill-death rewrite.
  */
class LshSweepParitySpec extends SparkSpec {

  test("dedup_lsh_sweep == naive banded-candidate counts (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val out = DedupQueries.queries("dedup_lsh_sweep")(spark, dir)
      .orderBy("rows_per_band").collect().map(_.toSeq)

    // the pre-r10 shape, verbatim: every candidate pair becomes a row
    import spark.implicits._
    val reps = Tables.load(spark, dir, "documents")
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
    val vals = DedupQueries.minhashValuesFor(reps)
    val rs = Seq(4, 8, 16).toDF("r")
    val bands = vals.crossJoin(broadcast(rs))
      .groupBy(col("r"), col("doc_id"), expr("j DIV r").as("band_id"))
      .agg(expr("bit_xor((m * 131 + j) % 1000000007)").as("band_hash"))
    val cand = bands
      .select(col("r"), col("band_id"), col("band_hash"), col("doc_id").as("id_a"))
      .join(bands.select(col("r"), col("band_id"), col("band_hash"),
        col("doc_id").as("id_b")), Seq("r", "band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("r"), col("id_a"), col("id_b")).distinct()
    val naive = cand.groupBy(col("r"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("id_b") <= col("id_a") + 10, 1L).otherwise(0L))
          .as("n_window_candidates"))
      .orderBy(col("r")).collect()
      .map(row => (row.getInt(0).toLong, row.getLong(1), row.getLong(2)))

    assert(out.map(_(1)) sameElements naive.map(_._1)) // r
    assert(out.map(_(2)) sameElements naive.map(_._2)) // n_candidates
    assert(out.map(_(3)) sameElements naive.map(_._3)) // windowed
  }

  test("window bucket ids divide in integers, exact above 2^53") {
    import spark.implicits._
    val B = 1L << 14
    val id = (1L << 54) - 1
    val bk = Seq(id).toDF("doc_id")
      .select(DedupQueries.bucketOf("doc_id", B)).head().getLong(0)
    assert(bk == (1L << 40) - 1)
    assert(bk == id / B)
  }
}
