package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Concurrency-safe scoping for conf-dependent execution.
  *
  * Several engine paths want a SQL conf pinned for the lifetime of one
  * query — iterative loops run at a LOW shuffle width sized to their
  * state (Graph.pageRank, Dedup.connectedComponents), streaming state
  * partitioning is pinned at first checkpoint (StreamingOps
  * .runToMemory), and a partition-scoped restatement needs dynamic
  * overwrite mode. Doing that with set-then-restore on the SHARED
  * session is racy the moment two queries share it: a concurrent query
  * that plans inside the window silently inherits the pinned value.
  *
  * The fix is structural, not a lock: pin the conf on a PRIVATE clone
  * of the session (`SparkSession.newSession()` — same SparkContext,
  * same SharedState, so block-manager caches and the CacheManager's
  * plan-fragment matching still apply; its OWN SQLConf) and rebind the
  * input frames into the clone. Plans built inside the scope see the
  * pinned conf; plans built against the shared session never can, no
  * matter how the scheduler interleaves them. Nothing is ever restored
  * because nothing shared is ever touched.
  *
  * Clones share the executor class loader, and with it the codegen
  * cache (keyed on class loader + code), only because [[GraftSession]]
  * builds the context with `spark.sql.artifact.isolation.enabled=false`.
  * Under a foreign session that keeps artifact isolation on, each clone
  * gets its own session UUID and executor class loader, so every
  * scoped query recompiles all its codegen units on every run.
  *
  * At cluster scale the same discipline is what multi-tenant Spark
  * servers (Thrift/Connect) do per user session — conf isolation by
  * session object, one shared context underneath.
  */
object Sessions {

  /** A private clone of `parent` carrying the parent's CURRENT runtime
    * SQL conf (copied entry-wise; `newSession()` alone would reset
    * runtime-set values such as the legacy parquet NANOS flag back to
    * the build-time options) with `pinned` applied on top. Static and
    * core entries that refuse runtime mutation are skipped — they are
    * identical in the clone by construction, sharing the context. */
  def pinned(parent: SparkSession, pinnedConf: (String, String)*)
      : SparkSession = {
    val clone = parent.newSession()
    parent.conf.getAll.foreach { case (k, v) =>
      if (clone.conf.getOption(k) != Some(v))
        try clone.conf.set(k, v) catch { case _: Exception => () }
    }
    pinnedConf.foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }

  /** Evaluate `f` with `s` as the THREAD-active session, restoring the
    * previous one after. Needed when reading conf-dependent LAZY plan
    * properties off a pinned clone's plan from a foreign thread:
    * `LogicalPlan.stats` resolves `spark.sql.cbo.enabled` through
    * `SQLConf.get` (the active session), not through the plan's own
    * session — execution phases self-wrap in `withActive`, a bare
    * `.stats` access does not. */
  def withActive[T](s: SparkSession)(f: => T): T = {
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(s)
    // restore EXACTLY the prior state: when the thread had no active
    // session, clear rather than leave the pinned clone active — a
    // leaked clone's SQLConf (e.g. cbo.enabled) would silently steer
    // later conf-sensitive work on this thread
    try f finally prev match {
      case Some(p) => SparkSession.setActiveSession(p)
      case None    => SparkSession.clearActiveSession()
    }
  }

  /** Rebind `df` (batch or streaming) into `target` — a session sharing
    * `df`'s SparkContext — via a uniquely-named global temp view. The
    * view is resolved eagerly when the rebound Dataset is constructed
    * and dropped before returning, so no catalog entry outlives the
    * call. The rebound frame plans and executes under `target`'s conf;
    * the original is untouched. */
  def rebind(df: DataFrame, target: SparkSession): DataFrame = {
    val name = "graft_scoped_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    df.createOrReplaceGlobalTempView(name)
    try target.table(s"global_temp.$name")
    finally df.sparkSession.catalog.dropGlobalTempView(name)
  }

  /** Eager INSERT of `df` into a catalog table resolvable from
    * `target` (e.g. a GdxCatalog table on a pinned session). WRITE
    * rebinding needs its own shape: a rebound frame's `writeTo(...)
    * .append()` re-analyzes the UNRESOLVED plan after [[rebind]] has
    * dropped its view — so here the view lives exactly as long as the
    * INSERT statement executes. */
  def insertInto(target: SparkSession, df: DataFrame,
                 table: String): Unit = {
    val name = "graft_ins_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    df.createOrReplaceGlobalTempView(name)
    try target.sql(s"INSERT INTO $table SELECT * FROM global_temp.$name")
    finally df.sparkSession.catalog.dropGlobalTempView(name)
  }
}
