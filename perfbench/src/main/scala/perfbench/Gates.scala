package perfbench

import graft.ecs.{Archetype, ArchetypeStore, ComponentMeta, World}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Whole-frame correctness checks, run outside the timed region. */
object Gates {
  private def third(mover: Boolean) = if (mover) "odometer__d" else "heat__h"

  /** Compare every live row of one archetype at step `k` with the
    * closed form. `alive` is the expected live-row count; `shift` adds
    * the expected x correction per row (0 where none was written).
    */
  def frame(rec: Recorder, name: String, df: DataFrame, in: Inputs, mover: Boolean,
      k: Long, alive: Long, shift: Column = lit(0.0)): Unit = {
    val exp = in.expectedCols(mover, k).toMap
    // null-safe, so a null field counts as a mismatch
    def differs(c: String, want: Column) = !(col(c) <=> want)
    val bad = differs("position__x", exp("position__x") + shift) ||
      differs("position__y", exp("position__y")) ||
      differs(third(mover), exp(third(mover))) || differs("step", lit(k))
    val r = df.agg(count(lit(1)), sum(when(bad, 1L).otherwise(0L))).head()
    val rows = r.getLong(0)
    val wrong = if (rows == 0) 0L else r.getLong(1)
    rec.check(name, rows == alive && wrong == 0,
      s"rows=$rows expected=$alive mismatched=$wrong")
  }

  private def digest(df: DataFrame, metas: Seq[ComponentMeta]): (Long, Long) = {
    val cols = Archetype.schemaOf(metas).fieldNames.map(col)
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(cols.toIndexedSeq: _*))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** A fresh store attached to the durable dir resolves the same live
    * frame at step `k` as the in-memory world, for every archetype.
    */
  def attachMatches(rec: Recorder, spark: SparkSession, w: World, dir: String, k: Long,
      archetypes: Seq[Seq[ComponentMeta]]): Unit = {
    val s2 = new ArchetypeStore(spark, w.store.simulation, w.store.run)
    archetypes.foreach { metas =>
      val h = s2.attachDurable(metas, dir)
      val durable = s2.resolved(h).filter(col("step") === k && col("is_active"))
      val memory = w.query(metas, Some(k))(h)
      val (a, b) = (digest(durable, metas), digest(memory, metas))
      rec.check(s"durable_attach_${metas.map(_.name).mkString("_")}", a == b,
        s"durable (rows, hash) $a != memory $b")
    }
  }
}
