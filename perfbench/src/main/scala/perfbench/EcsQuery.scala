package perfbench

import graft.ecs.{Archetype, ArchetypeStore, World}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import java.util.SplittableRandom

/** Read path. Set-up builds a history (steps, a `despawnWhere`
  * tombstone sweep and a `store.upsert` correction onto existing keys),
  * compacts it in memory and commits it durably. The timed part is a
  * seeded closed-loop mix of point queries, entity trajectories, live
  * box scans over both archetypes, full-history aggregates and durable
  * recoveries, dealt in decks of fixed composition until the measured
  * time reaches the run length.
  */
object EcsQuery {
  val MoverCount = 20000L
  val HeaterCount = 5000L
  val Steps = 4L
  val SetupRepeats = 2
  val WarmMovers = 1000L
  /** Deck of one op mix; the seed only shuffles it and picks ids. */
  val Deck: Seq[String] = Seq.fill(12)("point") ++ Seq.fill(3)("trajectory") ++
    Seq.fill(2)("live_scan") ++ Seq("history_scan") ++ Seq.fill(2)("recovery")
  val PointIds = 4

  private val MoverHash = Archetype.hashOf(Model.Movers)
  private val HeaterHash = Archetype.hashOf(Model.Heaters)

  def run(spark: SparkSession, probe: Probe, rec: Recorder, seed: Long): Unit = {
    val rng = new SplittableRandom(seed)
    // A small world on the same path warms the JIT and Spark's
    // generated-code cache for set-up and every read; the measured
    // set-ups follow, and the last one's world is the one read.
    rec.warmUp {
      val tiny = new History(spark, probe, rec, Inputs(seed, WarmMovers, WarmMovers / 4), 0)
      Deck.distinct.foreach(tiny.runOp(_, rng))
      tiny.drop()
    }
    rec.phase("warm-up")
    (1 until SetupRepeats).foreach { rep =>
      new History(spark, probe, rec, Inputs(seed, MoverCount, HeaterCount), rep).drop()
    }
    val h = new History(spark, probe, rec, Inputs(seed, MoverCount, HeaterCount), SetupRepeats)
    rec.sample("bytes_per_user_byte", h.durableBytesPerUserByte)
    rec.phase("set-up")

    var decks = 0
    while (!rec.done) {
      val deck = Deck.toArray
      for (i <- deck.indices.reverse) {
        val j = rng.nextInt(i + 1)
        val t = deck(i); deck(i) = deck(j); deck(j) = t
      }
      deck.foreach(h.runOp(_, rng))
      decks += 1
    }
    rec.phase("timed decks")

    h.checkFrames()
    rec.extra("system.stages", h.w.stages().size)
    rec.extra("world", Map("movers" -> MoverCount, "heaters" -> HeaterCount, "steps" -> Steps,
      "despawned" -> h.despawned, "decks" -> decks, "setup_repeats" -> SetupRepeats))
    h.drop()
  }

  /** One built history (a timed set-up), the reads on it and their
    * expected results.
    */
  private final class History(spark: SparkSession, probe: Probe, rec: Recorder,
      in: Inputs, rep: Int) {
    val k: Long = Steps
    val dir: String = rec.dir(s"ecs_query-$rep")

    def alive(id: Long): Boolean = !(in.isMover(id) && id % 17 == 0)
    def corrected(id: Long): Boolean = in.isMover(id) && id % 13 == 0 && alive(id)
    def expX(id: Long, s: Long): Double =
      in.x(id, s) + (if (s == k && corrected(id)) 1000.0 else 0.0)

    val w: World = rec.timedSetup {
      val w = probe.span("ecs.World", "World.make") {
        World.make(spark, s"sim_${in.seed}", s"run_${in.seed}_$rep")
      }
      probe.span("ecs.World", "World.spawnBatch") {
        w.spawnBatch(Model.Movers, in.moverFrame(spark))
        w.spawnBatch(Model.Heaters, in.heaterFrame(spark))
      }
      Model.Processors.foreach(w.addProcessor)
      (1L to k).foreach(_ => probe.span("ecs.World", "World.step") { w.step(Model.Dt) })
      probe.span("ecs.World", "World.despawnWhere") {
        w.despawnWhere(Seq(Model.V), col("entity_id") % 17 === 0)
      }
      probe.span("ecs.ArchetypeStore", "ArchetypeStore.upsert") {
        val fix = w.query(Model.Movers)(MoverHash)
          .filter(col("entity_id") % 13 === 0)
          .withColumn("position__x", col("position__x") + 1000.0)
        w.store.upsert(MoverHash, fix)
      }
      probe.span("ecs.ArchetypeStore", "ArchetypeStore.optimize") { w.store.optimize() }
      probe.span("ecs.ArchetypeStore", "ArchetypeStore.commitDelta") { w.store.commitDelta(dir) }
      w
    }

    val despawned: Long = (1L to in.movers).count(!alive(_)).toLong

    def durableBytesPerUserByte: Double =
      rec.dirBytes(dir)._1.toDouble / ((k + 1) *
        (in.movers * Archetype.schemaOf(Model.Movers).defaultSize +
          in.heaters * Archetype.schemaOf(Model.Heaters).defaultSize))

    /** Per archetype and step: (rows, live rows, sum of x). */
    private lazy val historyAgg: Map[String, Map[Long, (Long, Long, Double)]] = {
      def agg(ids: Seq[Long]) = (0L to k).map { s =>
        s -> ((ids.size.toLong, ids.count(alive).toLong, ids.map(expX(_, s)).sum))
      }.toMap
      Map(MoverHash -> agg(1L to in.movers), HeaterHash -> agg((in.movers + 1) to in.entities))
    }

    private def trajectoryOk(id: Long, rows: Seq[Row]): Boolean = {
      val bySteps = rows.map(r => r.getAs[Long]("step") -> r).toMap
      rows.size == k + 1 && (0L to k).forall { s =>
        bySteps.get(s).exists { r =>
          r.getAs[Boolean]("is_active") == alive(id) &&
          r.getAs[Double]("position__x") == expX(id, s) &&
          r.getAs[Double]("position__y") == in.y(id, s)
        }
      }
    }

    private def collected(df: org.apache.spark.sql.DataFrame, cols: String*): Seq[Row] =
      probe.span("spark", "collect") {
        val rows = df.select(cols.map(col): _*).collect().toSeq
        probe.note("rows_returned", rows.size)
        rows
      }

    def runOp(kind: String, rng: SplittableRandom): Unit = kind match {
      case "point" =>
        val ids = Seq.fill(PointIds)(1L + rng.nextLong(in.entities)).distinct
        rec.op(kind) {
          val frames = probe.span("ecs.QueryManager", "World.query") {
            w.query(Seq(Model.P), entities = Some(ids))
          }
          frames.values.toSeq.flatMap(collected(_, "entity_id", "step", "position__x", "position__y"))
        }.foreach { rows =>
          val got = rows.groupBy(_.getLong(0))
          val ok = got.keySet.subsetOf(ids.toSet) && ids.forall { id =>
            got.get(id) match {
              case None => !alive(id)
              case Some(Seq(r)) => alive(id) && r.getLong(1) == k &&
                r.getDouble(2) == expX(id, k) && r.getDouble(3) == in.y(id, k)
              case _ => false
            }
          }
          if (!ok) rec.wrong(kind, s"ids $ids")
        }
      case "trajectory" =>
        val id = 1L + rng.nextLong(in.movers)
        rec.op(kind) {
          val hist = probe.span("ecs.QueryManager", "World.getHistory") {
            w.getHistory(Seq(Model.P, Model.V))
          }
          collected(hist(MoverHash).filter(col("entity_id") === id),
            "step", "is_active", "position__x", "position__y")
        }.foreach(rows => if (!trajectoryOk(id, rows)) rec.wrong(kind, s"id $id"))
      case "live_scan" =>
        val (cx, cy, r) = (rng.nextInt(1601) - 800.0, rng.nextInt(1601) - 800.0, 100.0 + rng.nextInt(101))
        rec.op(kind) {
          val frames = probe.span("ecs.QueryManager", "World.query") { w.query(Seq(Model.P)) }
          frames.values.toSeq.map { df =>
            probe.span("spark", "count") {
              val n = df.filter(col("position__x").between(cx - r, cx + r) &&
                col("position__y").between(cy - r, cy + r)).count()
              probe.note("rows_returned", n)
              n
            }
          }.sum
        }.foreach { n =>
          val want = (1L to in.entities).count { id =>
            alive(id) && math.abs(expX(id, k) - cx) <= r && math.abs(in.y(id, k) - cy) <= r
          }
          if (n != want) rec.wrong(kind, s"box ($cx, $cy, $r): $n rows, expected $want")
        }
      case "history_scan" =>
        rec.op(kind) {
          val hist = probe.span("ecs.QueryManager", "World.getHistory") { w.getHistory(Seq(Model.P)) }
          hist.toSeq.map { case (h, df) =>
            val perStep = df.groupBy("step").agg(count(lit(1)).as("n"),
              sum(col("is_active").cast("long")).as("live"), sum("position__x").as("sx"))
            h -> collected(perStep, "step", "n", "live", "sx").map(r =>
              r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
          }.toMap
        }.foreach { got => if (got != historyAgg) rec.wrong(kind, "per-step history aggregates") }
      case "recovery" =>
        val id = 1L + rng.nextLong(in.movers)
        rec.op(kind) {
          val s2 = probe.span("ecs.ArchetypeStore", "ArchetypeStore.new") {
            new ArchetypeStore(spark, w.store.simulation, w.store.run)
          }
          probe.span("ecs.ArchetypeStore", "ArchetypeStore.attachDurable") {
            s2.attachDurable(Model.Movers, dir)
          }
          val traj = probe.span("ecs.ArchetypeStore", "ArchetypeStore.entityTrajectoryDurable") {
            s2.entityTrajectoryDurable(Model.Movers, dir, id)
          }
          collected(traj, "step", "is_active", "position__x", "position__y")
        }.foreach(rows => if (!trajectoryOk(id, rows)) rec.wrong(kind, s"id $id"))
    }

    /** Whole-frame checks of the final state, in memory and durable. */
    def checkFrames(): Unit = {
      val shift = when(col("entity_id") % 13 === 0, 1000.0).otherwise(0.0)
      Gates.frame(rec, "frame_movers", w.query(Model.Movers)(MoverHash), in, mover = true, k,
        in.movers - despawned, shift)
      Gates.frame(rec, "frame_heaters", w.query(Model.Heaters)(HeaterHash), in, mover = false, k,
        in.heaters)
      Gates.attachMatches(rec, spark, w, dir, k, Seq(Model.Movers, Model.Heaters))
    }

    def drop(): Unit = {
      rec.releaseBlocks()
      rec.deleteDir(dir)
    }
  }
}
