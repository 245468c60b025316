package perfbench

import graft.ecs.{Archetype, World}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** Write path: episodes of `Steps` steps on a fresh world, each step
  * `World.step` then `commitDelta` to a durable dir, with
  * `compactDurable` + `vacuumDurable` after every `CompactEvery`
  * steps. An episode spans two of the store's optimize intervals (4 by
  * default), so the history outgrows one checkpoint. Episodes repeat
  * until the measured time reaches the run length, so every run
  * measures whole episodes of the same work.
  */
object EcsStep {
  val MoverCount = 50000L
  val HeaterCount = 12500L
  val Steps = 8
  val CompactEvery = 8
  val WarmMovers = 1000L
  val SetupRepeats = 3

  def run(spark: SparkSession, probe: Probe, rec: Recorder, seed: Long): Unit = {
    val full = Inputs(seed, MoverCount, HeaterCount)
    val moverWidth = Archetype.schemaOf(Model.Movers).defaultSize
    val heaterWidth = Archetype.schemaOf(Model.Heaters).defaultSize
    var episode = 0

    def build(in: Inputs): (World, String) = {
      episode += 1
      val dir = rec.dir(s"ecs_step-$episode")
      val w = rec.timedSetup {
        val w = probe.span("ecs.World", "World.make") {
          World.make(spark, s"sim_$seed", s"run_${seed}_$episode")
        }
        probe.span("ecs.World", "World.spawnBatch") {
          w.spawnBatch(Model.Movers, in.moverFrame(spark))
          w.spawnBatch(Model.Heaters, in.heaterFrame(spark))
        }
        Model.Processors.foreach(w.addProcessor)
        probe.span("ecs.ArchetypeStore", "ArchetypeStore.commitDelta") { w.store.commitDelta(dir) }
        w
      }
      (w, dir)
    }

    def step(w: World, dir: String): Unit = {
      val measure = probe.tracing && !rec.warming
      // lineage depth before every step; its max is the frame just
      // before an optimize, whatever the store's interval
      if (measure) {
        val plan = GraftBridge.analyzedPlan(w.store.resolved(Archetype.hashOf(Model.Movers)))
        rec.sample("system.plan_nodes", plan.collect { case p => p }.size)
      }
      val before = if (measure) rec.dirBytes(dir) else (0L, 0L)
      rec.op("step") {
        probe.span("ecs.World", "World.step") { w.step(Model.Dt) }
        probe.span("ecs.ArchetypeStore", "ArchetypeStore.commitDelta") { w.store.commitDelta(dir) }
      }
      if (measure) {
        val after = rec.dirBytes(dir)
        rec.sample("store.commit_bytes", after._1 - before._1)
        rec.sample("store.commit_files", after._2 - before._2)
      }
      if (w.currentStep % CompactEvery == 0) maintain(w, dir)
    }

    def maintain(w: World, dir: String): Unit = {
      val pre = rec.dirBytes(dir)._1
      rec.op("compact") {
        probe.span("ecs.ArchetypeStore", "ArchetypeStore.compactDurable") { w.store.compactDurable(dir) }
      }
      if (!rec.warming) rec.sample("store.compact_bytes_rewritten", rec.dirBytes(dir)._1 - pre)
      rec.op("vacuum") {
        probe.span("ecs.ArchetypeStore", "ArchetypeStore.vacuumDurable") { w.store.vacuumDurable(dir) }
      }
    }

    def finishEpisode(in: Inputs, w: World, dir: String): Unit = {
      if (!rec.warming) {
        val k = w.currentStep
        Gates.frame(rec, s"frame_movers_e$episode", w.query(Model.Movers, Some(k)).values.head,
          in, mover = true, k, in.movers)
        Gates.frame(rec, s"frame_heaters_e$episode", w.query(Model.Heaters, Some(k)).values.head,
          in, mover = false, k, in.heaters)
        Gates.attachMatches(rec, spark, w, dir, k, Seq(Model.Movers, Model.Heaters))
        val userBytes = (k + 1) * (in.movers * moverWidth + in.heaters * heaterWidth)
        rec.sample("bytes_per_user_byte", rec.dirBytes(dir)._1.toDouble / userBytes)
        rec.extra("system.stages", w.stages().size)
      }
      rec.releaseBlocks()
      rec.deleteDir(dir)
    }

    // A small episode warms the JIT and Spark's generated-code cache:
    // every episode starts from a fresh world, so it runs the same plan
    // shapes. Then extra set-ups whose worlds are dropped, so setup_s is
    // a median of warm set-ups.
    rec.warmUp {
      val tiny = Inputs(seed, WarmMovers, WarmMovers / 4)
      val (w, dir) = build(tiny)
      (1 to Steps).foreach(_ => step(w, dir))
      finishEpisode(tiny, w, dir)
    }
    rec.phase("warm-up")
    (1 until SetupRepeats).foreach { _ =>
      val (_, spare) = build(full)
      rec.releaseBlocks()
      rec.deleteDir(spare)
    }
    rec.phase("set-up")
    while (!rec.done) {
      val (w, dir) = build(full)
      (1 to Steps).foreach(_ => step(w, dir))
      finishEpisode(full, w, dir)
    }
    rec.extra("world", Map("movers" -> MoverCount, "heaters" -> HeaterCount,
      "steps_per_episode" -> Steps, "episodes" -> (episode - SetupRepeats)))
  }
}
