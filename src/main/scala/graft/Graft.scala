package graft

import org.apache.spark.sql.SparkSession

/** Library entrypoint: one call gives a session with the whole graft
  * surface wired — the native as-of strategy and optimizer rule, every
  * `graft_*` SQL function, and the session defaults the suite is tuned
  * for. Users switching from the reference start here:
  *
  * {{{
  * val spark = Graft.session()                  // local dev
  * val spark = Graft.session("yarn", "my-app")  // cluster
  * spark.sql("SELECT graft_hll(user_id) FROM events")
  * }}}
  *
  * For a session built elsewhere (e.g. by a platform), [[install]]
  * retrofits the same surface.
  */
object Graft {

  /** Spark's disk-backed keyed state store — the provider the
    * streaming tier (G7-G15, ECS ingestion) should run on at real key
    * cardinality: per-key point reads/writes hit RocksDB instead of an
    * all-keys-in-heap HashMap, so state size is bounded by disk, not
    * executor memory.
    */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Build a session with graft extensions + tuned defaults.
    * `shufflePartitions` defaults to the machine's core count locally;
    * set it to 2-3× total executor cores on a real cluster.
    * `rocksDbStateStore` switches stateful streaming to the RocksDB
    * provider (recommended once keyed state outgrows executor heap).
    */
  def session(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      appName: String = "graft",
      shufflePartitions: Option[Int] = None,
      rocksDbStateStore: Boolean = false): SparkSession = {
    val parts = shufflePartitions.getOrElse(Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config(Tables.NanosAsLongKey, "true")
      .getOrCreate()
    // the session hooks cover both a fresh session and a pre-existing
    // one returned by getOrCreate
    install(s)
    // getOrCreate silently ignores builder configs on a pre-existing
    // session — re-apply the mutable, semantics-affecting ones so the
    // tuned defaults this docstring promises actually hold
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set(Tables.NanosAsLongKey, "true")
    if (rocksDbStateStore)
      s.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
    s
  }

  /** Retrofit the graft surface onto an existing session: native as-of
    * join planning + the `graft_*` SQL function registry. Idempotent.
    */
  def install(spark: SparkSession): Unit = {
    graft.plans.AsOfJoin.install(spark)
    graft.functions.GraftFunctions.register(spark)
  }
}
