package graft

import graft.sources.GdxSource
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The one-pass shape of GDX row-level DML (sources/GdxSource.dmlPass):
  * MERGE, UPDATE and DELETE each write their DV sidecars and new rows
  * in one Spark action, and raise every refusal from that action's
  * counts. Pins the action count per statement, refusals that reach
  * beyond the first target file, refusal cleanup, and the MERGE of a
  * table whose key column is not integral. */
class GdxDmlPassSpec extends SparkSuite {

  private lazy val s = org.apache.spark.sql.graft.ColumnBridge
    .sessionWithExtensions(spark, new GraftExtensions())

  private val fmt = "graft.sources.GdxSource"

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"gdxpass_$tag").toString + "/t"

  private def rows(tbl: String): Seq[(Long, String, Any)] =
    s.sql(s"SELECT k, v, w FROM $tbl ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getLong(2))).toSeq

  private def version(dir: String): Int =
    GdxSource.listVersions(dir, GdxSource.driverConf()).max

  /** Data and DV files in the table directory. */
  private def dataFiles(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)
      .filter(n => n.endsWith(".gdx") || n.endsWith(".dvx"))

  private def causedBy[T](e: Throwable)(implicit ct: scala.reflect.ClassTag[T])
      : Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .exists(ct.runtimeClass.isInstance(_))

  /** Names of the successful actions (the statement's own eager
    * command included) that running `sql` takes. */
  private def actions(sql: String): Seq[String] = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        names.add(f)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    s.listenerManager.register(l)
    try {
      s.sql(sql)
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    } finally s.listenerManager.unregister(l)
    names.toArray(Array.empty[String]).toSeq
  }

  test("MERGE, UPDATE and DELETE each write in one action") {
    val dir = freshDir("actions")
    s.sql(s"""CREATE TABLE gp_act (k BIGINT, v STRING, w BIGINT)
      USING $fmt OPTIONS (path '$dir')""")
    try {
      s.sql("INSERT INTO gp_act VALUES (1,'a',1),(2,'b',2)")
      s.sql("INSERT INTO gp_act VALUES (10,'c',10),(20,'d',20)")
      // every statement below runs on a table with a CHECK constraint
      s.sql("ALTER TABLE gp_act ADD CONSTRAINT w_pos CHECK (w > 0)")
      s.sql("""CREATE OR REPLACE TEMP VIEW gp_asrc AS SELECT * FROM VALUES
        (2, 'B', 3L), (30, 'e', 30L) AS t(k, nv, nw)""")
      // the source's pin, the source-key pre-scan, the write pass, the
      // command
      val merge = actions("""MERGE INTO gp_act t USING gp_asrc s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.nv, w = s.nw
        WHEN NOT MATCHED THEN INSERT (k, v, w) VALUES (s.k, s.nv, s.nw)""")
      assert(merge.size === 4, merge)
      // the write pass, the command
      val upd = actions("UPDATE gp_act SET w = w + 1 WHERE k >= 10")
      assert(upd.size === 2, upd)
      val del = actions("DELETE FROM gp_act WHERE k = 1")
      assert(del.size === 2, del)
      assert(rows("gp_act") === Seq((2L, "B", 3L), (10L, "c", 11L),
        (20L, "d", 21L), (30L, "e", 31L)))
    } finally s.sql("DROP TABLE IF EXISTS gp_act")
  }

  test("a duplicate match in the second file of the target is refused") {
    val dir = freshDir("dup2")
    s.sql(s"""CREATE TABLE gp_dup (k BIGINT, v STRING, w BIGINT)
      USING $fmt OPTIONS (path '$dir')""")
    try {
      s.sql("INSERT INTO gp_dup VALUES (1,'a',1),(2,'b',2)")
      s.sql("INSERT INTO gp_dup VALUES (100,'x',100),(200,'y',200)")
      // k=1 and k=200 live in different files
      val files = GdxSource.committedEntries(dir, GdxSource.driverConf())
      def fileOf(k: Long) = files.filter(_.stats.exists(st =>
        st.minK <= k && k <= st.maxK)).map(_.name)
      assert(fileOf(200).nonEmpty && fileOf(1).intersect(fileOf(200)).isEmpty)
      val v0 = version(dir)
      // k=1 (first file) matches once; k=200 (second file) twice
      s.sql("""CREATE OR REPLACE TEMP VIEW gp_dsrc AS SELECT * FROM VALUES
        (1, 'p'), (200, 'q'), (200, 'r') AS t(k, nv)""")
      val e = intercept[Exception](s.sql(
        """MERGE INTO gp_dup t USING gp_dsrc s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET v = s.nv"""))
      assert(causedBy[graft.sources.GdxMergeCardinalityException](e),
        e.getMessage)
      assert(version(dir) === v0)
      assert(rows("gp_dup") === Seq((1L, "a", 1L), (2L, "b", 2L),
        (100L, "x", 100L), (200L, "y", 200L)))
    } finally s.sql("DROP TABLE IF EXISTS gp_dup")
  }

  test("NOT MATCHED BY SOURCE merge over several files") {
    val dir = freshDir("nmbs")
    s.sql(s"""CREATE TABLE gp_nmbs (k BIGINT, v STRING, w BIGINT)
      USING $fmt OPTIONS (path '$dir')""")
    try {
      // three files, one commit each
      s.sql("INSERT INTO gp_nmbs VALUES (1,'a',1),(2,'b',2),(3,'c',3)")
      s.sql("INSERT INTO gp_nmbs VALUES (10,'d',10),(11,'e',11),(12,'f',12)")
      s.sql("INSERT INTO gp_nmbs VALUES (20,'g',20),(21,'h',21),(22,'i',22)")
      // an earlier DV on the middle file must be folded into the new one
      s.sql("DELETE FROM gp_nmbs WHERE k = 12")
      s.sql("""CREATE OR REPLACE TEMP VIEW gp_nsrc AS SELECT * FROM VALUES
        (2, 'B'), (11, 'E'), (30, 'N') AS t(k, nv)""")
      val m = s.sql("""MERGE INTO gp_nmbs t USING gp_nsrc s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.nv
        WHEN NOT MATCHED THEN INSERT (k, v, w) VALUES (s.k, s.nv, 0)
        WHEN NOT MATCHED BY SOURCE AND t.k % 2 = 0 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET w = t.w * 100""")
        .collect().head
      // matched: 2, 11 (updated); inserted: 30; unmatched target rows
      // 1, 3, 10, 20, 21, 22: even ones (10, 20, 22) deleted, odd ones
      // (1, 3, 21) get w * 100
      assert((m.getLong(1), m.getLong(2), m.getLong(3)) === ((1L, 5L, 3L)))
      assert(rows("gp_nmbs") === Seq(
        (1L, "a", 100L), (2L, "B", 2L), (3L, "c", 300L),
        (11L, "E", 11L), (21L, "h", 2100L), (30L, "N", 0L)))
    } finally s.sql("DROP TABLE IF EXISTS gp_nmbs")
  }

  test("a refused MERGE commits nothing and VACUUM reaps what it wrote") {
    val dir = freshDir("refuse")
    s.sql(s"""CREATE TABLE gp_ref (k BIGINT, v STRING, w BIGINT)
      USING $fmt OPTIONS (path '$dir')""")
    try {
      s.sql("INSERT INTO gp_ref VALUES (1,'a',1),(2,'b',2)")
      s.sql("ALTER TABLE gp_ref ADD CONSTRAINT w_pos CHECK (w > 0)")
      val v0 = version(dir)
      val before = dataFiles(dir)
      s.sql("""CREATE OR REPLACE TEMP VIEW gp_rsrc AS SELECT * FROM VALUES
        (1, 5L), (2, -5L), (3, 7L) AS t(k, nw)""")
      val e = intercept[Exception](s.sql(
        """MERGE INTO gp_ref t USING gp_rsrc s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET w = s.nw
          WHEN NOT MATCHED THEN INSERT (k, v, w) VALUES (s.k, 'n', s.nw)"""))
      assert(causedBy[graft.sources.GdxConstraintViolationException](e),
        e.getMessage)
      assert(version(dir) === v0)
      assert(rows("gp_ref") === Seq((1L, "a", 1L), (2L, "b", 2L)))
      // the pass wrote its images and DV sidecar before the refusal:
      // unreferenced orphans, which VACUUM removes
      val orphans = dataFiles(dir) -- before
      assert(orphans.exists(_.endsWith(".gdx")), orphans)
      assert(orphans.exists(_.endsWith(".dvx")), orphans)
      GdxSource.vacuum(dir, GdxSource.driverConf(), keepLast = 100)
      assert(dataFiles(dir) === before)
      assert(rows("gp_ref") === Seq((1L, "a", 1L), (2L, "b", 2L)))
    } finally s.sql("DROP TABLE IF EXISTS gp_ref")
  }

  test("MERGE into a table keyed by a STRING natural key") {
    val dir = freshDir("natural")
    s.sql(s"""CREATE TABLE gp_nk (cc STRING, exchangedate DATE, rate DOUBLE)
      USING $fmt OPTIONS (path '$dir')""")
    try {
      s.sql("""INSERT INTO gp_nk VALUES ('USD', DATE'2024-01-02', 41.1D),
        ('EUR', DATE'2024-01-02', 45.2D)""")
      s.sql("""CREATE OR REPLACE TEMP VIEW gp_nksrc AS SELECT * FROM VALUES
        ('USD', DATE'2024-01-02', 41.3D), ('PLN', DATE'2024-01-02', 10.4D)
        AS s(cc, exchangedate, rate)""")
      val m = s.sql("""MERGE INTO gp_nk t USING gp_nksrc s
        ON t.cc = s.cc AND t.exchangedate = s.exchangedate
        WHEN MATCHED AND s.rate BETWEEN t.rate - 1 AND t.rate + 1
          THEN UPDATE SET rate = s.rate
        WHEN NOT MATCHED THEN INSERT *""").collect().head
      assert((m.getLong(1), m.getLong(2), m.getLong(3)) === ((1L, 1L, 0L)))
      assert(s.sql("SELECT cc, rate FROM gp_nk ORDER BY cc").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toSeq ===
        Seq("EUR" -> 45.2, "PLN" -> 10.4, "USD" -> 41.3))
      // the merge's new file publishes the full k-range: no k-window
      // or k-predicate can prune it
      val fresh = GdxSource.committedEntries(dir, GdxSource.driverConf())
        .filter(_.name.startsWith("upd-"))
      assert(fresh.nonEmpty)
      fresh.foreach(e => assert(e.stats.exists(st =>
        st.minK == Long.MinValue && st.maxK == Long.MaxValue),
        e.manifestLine))
      assert(s.sql("SELECT rate FROM gp_nk WHERE cc = 'PLN'")
        .head.getDouble(0) === 10.4)
    } finally s.sql("DROP TABLE IF EXISTS gp_nk")
  }
}
