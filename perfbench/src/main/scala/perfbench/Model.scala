package perfbench

import graft.ecs.{Component, ComponentMeta, Processor}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

final case class Position(x: Double, y: Double) extends Component
final case class Velocity(vx: Double, vy: Double) extends Component
final case class Odometer(d: Double) extends Component
final case class Heat(h: Double, rate: Double) extends Component

/** The simulated world: movers (Position + Velocity + Odometer) and a
  * second archetype of heaters (Position + Heat). Every input field is
  * a small integer derived from (entity id, seed) by xxhash64, and
  * dt = 0.25, so every frame has an exact closed form in doubles.
  */
object Model {
  val Dt = 0.25
  val P: ComponentMeta = ComponentMeta.of[Position]
  val V: ComponentMeta = ComponentMeta.of[Velocity]
  val O: ComponentMeta = ComponentMeta.of[Odometer]
  val H: ComponentMeta = ComponentMeta.of[Heat]
  val Movers: Seq[ComponentMeta] = Seq(P, V, O)
  val Heaters: Seq[ComponentMeta] = Seq(P, H)

  /** Priority 0 on movers: integrate position. */
  object Move extends Processor {
    override val priority = 0
    val components: Seq[ComponentMeta] = Seq(P, V)
    def process(df: DataFrame, dt: Double): DataFrame = df
      .withColumn("position__x", col("position__x") + col("velocity__vx") * dt)
      .withColumn("position__y", col("position__y") + col("velocity__vy") * dt)
  }

  /** Priority 1, chained onto Move's output for the same archetype. */
  object Odo extends Processor {
    override val priority = 1
    val components: Seq[ComponentMeta] = Seq(O)
    def process(df: DataFrame, dt: Double): DataFrame = df.withColumn("odometer__d",
      col("odometer__d") + (abs(col("velocity__vx")) + abs(col("velocity__vy"))) * dt)
  }

  /** Priority 2, on the disjoint heater archetype. */
  object Warm extends Processor {
    override val priority = 2
    val components: Seq[ComponentMeta] = Seq(H)
    def process(df: DataFrame, dt: Double): DataFrame =
      df.withColumn("heat__h", col("heat__h") + col("heat__rate") * dt)
  }

  val Processors: Seq[Processor] = Seq(Move, Odo, Warm)
}

/** Seeded inputs: ids 1..movers are movers, the next `heaters` ids are
  * heaters. The same formulas run in Spark (to build the inputs) and
  * in Scala (to check outputs).
  */
final case class Inputs(seed: Long, movers: Long, heaters: Long) {
  import Model.Dt
  val entities: Long = movers + heaters

  private def salt(k: Int): Long = seed * 16 + k
  // xxhash64(id, salt) as Spark computes it: seed 42, then chained
  private def pick(id: Long, k: Int, n: Long, off: Long): Double =
    (Math.floorMod(XXH64.hashLong(salt(k), XXH64.hashLong(id, 42L)), n) - off).toDouble
  private def pickCol(id: Column, k: Int, n: Long, off: Long): Column =
    (pmod(xxhash64(id, lit(salt(k))), lit(n)) - off).cast("double")

  def isMover(id: Long): Boolean = id <= movers
  def x0(id: Long): Double = pick(id, 1, 2001, 1000)
  def y0(id: Long): Double = pick(id, 2, 2001, 1000)
  def vx(id: Long): Double = pick(id, 3, 17, 8)
  def vy(id: Long): Double = pick(id, 4, 17, 8)

  /** Closed-form position at step k. */
  def x(id: Long, k: Long): Double = if (isMover(id)) x0(id) + k * Dt * vx(id) else x0(id)
  def y(id: Long, k: Long): Double = if (isMover(id)) y0(id) + k * Dt * vy(id) else y0(id)

  def moverFrame(spark: SparkSession): DataFrame = {
    def p(k: Int, n: Long, off: Long) = pickCol(col("id"), k, n, off)
    spark.range(1, movers + 1).select(col("id").as("entity_id"),
      p(1, 2001, 1000).as("position__x"), p(2, 2001, 1000).as("position__y"),
      p(3, 17, 8).as("velocity__vx"), p(4, 17, 8).as("velocity__vy"),
      lit(0.0).as("odometer__d"))
  }

  def heaterFrame(spark: SparkSession): DataFrame = {
    def p(k: Int, n: Long, off: Long) = pickCol(col("id"), k, n, off)
    spark.range(movers + 1, entities + 1).select(col("id").as("entity_id"),
      p(1, 2001, 1000).as("position__x"), p(2, 2001, 1000).as("position__y"),
      p(5, 100, 0).as("heat__h"), p(6, 5, -1).as("heat__rate"))
  }

  /** Spark-side closed form of a whole frame at step k, by the archetype
    * table's column names.
    */
  def expectedCols(mover: Boolean, k: Long): Seq[(String, Column)] = {
    def p(j: Int, n: Long, off: Long) = pickCol(col("entity_id"), j, n, off)
    val kd = lit(k * Dt)
    if (mover) Seq(
      "position__x" -> (p(1, 2001, 1000) + kd * p(3, 17, 8)),
      "position__y" -> (p(2, 2001, 1000) + kd * p(4, 17, 8)),
      "odometer__d" -> (kd * (abs(p(3, 17, 8)) + abs(p(4, 17, 8)))))
    else Seq(
      "position__x" -> p(1, 2001, 1000),
      "position__y" -> p(2, 2001, 1000),
      "heat__h" -> (p(5, 100, 0) + kd * p(6, 5, -1)))
  }
}
