package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions wires every row of the kernel table
  * (graft.functions.Kernels), the admin DCL parser and the event-time
  * pruning rule into a session via spark.sql.extensions — the
  * cluster-deployment path.
  */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    // The spark.sql.extensions CONFIG is only consulted when the
    // SparkContext itself is created; in the shared test JVM another
    // suite usually owns the context already, so getOrCreate would
    // silently hand back a session without graft's functions. The
    // public Builder.withExtensions hook runs the SAME GraftExtensions
    // entry point on a fresh session over the existing context —
    // which is exactly what this spec pins: the class works as a
    // SparkSessionExtensions injector.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .withExtensions(new GraftExtensions()(_))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  test("tenant/user/role DCL runs through plain spark.sql; Spark-owned DDL untouched") {
    import graft.functions.SessionFunctions
    // the statements Spark has no grammar for route to the admin engine
    spark.sql("CREATE TENANT ext_t WITH comment='via spark.sql'")
    spark.sql("CREATE USER ext_u")
    spark.sql("ALTER TENANT ext_t ADD USER ext_u AS owner")
    val tenants = spark.sql("SHOW TENANTS").collect().map(_.getString(0)).toSeq
    assert(tenants.contains("ext_t") && tenants.contains("cnosdb"))
    // session context follows the same confs as current_tenant()
    spark.conf.set(SessionFunctions.TenantKey, "ext_t")
    spark.conf.set(graft.admin.AdminDcl.UserKey, "ext_u")
    try {
      spark.sql("CREATE ROLE ext_r INHERIT member")
      spark.sql("GRANT READ ON DATABASE x TO ext_r") // db missing → Meta error
      fail("grant on missing database must throw")
    } catch {
      case e: graft.admin.AdminError => assert(e.kind == "Meta")
    } finally {
      spark.conf.unset(SessionFunctions.TenantKey)
      spark.conf.unset(graft.admin.AdminDcl.UserKey)
    }
    // SHOW QUERIES resolves with its fixed schema
    assert(spark.sql("SHOW QUERIES").columns.toSeq ==
      Seq("query_id", "query_type", "query_text", "user_name", "tenant_name",
        "database_name", "state"))
    // Spark-owned DDL falls through to Spark's parser: these are NOT
    // hijacked (CREATE DATABASE/SHOW DATABASES are Spark's own)
    spark.sql("CREATE DATABASE IF NOT EXISTS spark_own_db")
    assert(spark.sql("SHOW DATABASES").collect()
      .exists(_.getString(0) == "spark_own_db"))
    spark.sql("DROP DATABASE spark_own_db")
    spark.sql("DROP TENANT ext_t")
    spark.sql("DROP USER ext_u")
  }

  test("DCL catalog persists across engines via spark.graft.admin.metaPath") {
    val meta = java.nio.file.Files.createTempDirectory("graft_ext_meta").toString + "/meta.json"
    spark.conf.set(graft.admin.AdminDcl.MetaPathKey, s"file:$meta")
    try {
      spark.sql("CREATE TENANT persist_t")
      // a FRESH engine over the same path sees the tenant
      val e2 = new graft.admin.AdminEngine(spark, new graft.admin.MetaCatalog,
        java.nio.file.Files.createTempDirectory("graft_ext_data").toString, () => 0L)
      e2.catalog.load(spark, s"file:$meta")
      assert(e2.catalog.tenants.contains("persist_t"))
      spark.sql("DROP TENANT persist_t")
    } finally spark.conf.unset(graft.admin.AdminDcl.MetaPathKey)
  }

  test("two sessions sharing one metaPath see each other's mutations (no last-writer-wins)") {
    val meta = java.nio.file.Files.createTempDirectory("graft_ext_meta2").toString + "/meta.json"
    val s2 = spark.newSession()
    spark.conf.set(graft.admin.AdminDcl.MetaPathKey, s"file:$meta")
    s2.conf.set(graft.admin.AdminDcl.MetaPathKey, s"file:$meta")
    try {
      spark.sql("CREATE TENANT share_a")
      s2.sql("CREATE TENANT share_b")    // hydrates share_a first, then saves both
      spark.sql("CREATE TENANT share_c") // re-hydrates (mtime changed) → sees share_b
      val n1 = spark.sql("SHOW TENANTS").collect().map(_.getString(0)).toSet
      val n2 = s2.sql("SHOW TENANTS").collect().map(_.getString(0)).toSet
      assert(Set("share_a", "share_b", "share_c").subsetOf(n1), n1.toString)
      assert(Set("share_a", "share_b", "share_c").subsetOf(n2), n2.toString)
      Seq("share_a", "share_b", "share_c").foreach(t => spark.sql(s"DROP TENANT $t"))
    } finally {
      spark.conf.unset(graft.admin.AdminDcl.MetaPathKey)
      s2.conf.unset(graft.admin.AdminDcl.MetaPathKey)
    }
  }

  test("extension-registered functions resolve in plain SQL") {
    val row = spark.sql(
      """SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |  num_gcd(12L, 18L) AS g, num_lcm(4L, 6L) AS l""".stripMargin).head()
    assert(row.getDouble(0) == 11.0)
    assert(row.getLong(1) == 6L)
    assert(row.getLong(2) == 12L)
  }

  test("session-info functions: reference defaults, conf-resolved per query, restored") {
    // session.slt's first block: root defaults
    val d = spark.sql("SELECT current_tenant() AS t, current_role() AS r").head()
    assert(d.getString(0) == "cnosdb")
    assert(d.isNullAt(1))
    try {
      spark.conf.set(functions.SessionFunctions.TenantKey, "t1")
      spark.conf.set(functions.SessionFunctions.RoleKey, "r1")
      // a NEW query resolves the new session state (analysis-time
      // capture — the reference rebinds its session UDFs the same way)
      val a = spark.sql("SELECT current_tenant() AS t, current_role() AS r").head()
      assert(a.getString(0) == "t1" && a.getString(1) == "r1")
    } finally {
      spark.conf.unset(functions.SessionFunctions.TenantKey)
      spark.conf.unset(functions.SessionFunctions.RoleKey)
    }
    // and Spark's own built-ins serve the other two session functions
    val b = spark.sql("SELECT current_user() AS u, current_database() AS db").head()
    assert(b.getString(0) != null && b.getString(1) != null)
  }

  test("every kernel-table row resolves in SQL and builds a sessionless Column") {
    // One table feeds all three surfaces, so the check is a loop over
    // it: the extension-built session, install() on a session that
    // lacks the names, and the registry-free Column path.
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftshim.ColumnBridge
    import graft.functions.Kernels
    val names = Kernels.table.map(_._1)
    assert(names.size >= 37 && names.distinct == names, s"table rows: $names")
    def missing(s: SparkSession) = names.filterNot(n =>
      s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
    assert(missing(spark).isEmpty, s"missing from the extension-built session: ${missing(spark)}")
    // a newSession inherits the injected registry, so drop the names
    // first: install must then bring every one of them back
    val fresh = spark.newSession()
    names.foreach(n => fresh.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    assert(missing(fresh) == names)
    Kernels.install(fresh)
    assert(missing(fresh).isEmpty, s"missing after install: ${missing(fresh)}")
    val d = fresh.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))").head.getDouble(0)
    assert(d == 11.0)
    // every row builds a Column with no active session on this thread,
    // straight from its Catalyst expression (no registry lookup)
    SparkSession.clearActiveSession()
    try {
      assert(SparkSession.getActiveSession.isEmpty)
      names.foreach { n =>
        val built = (0 to 2).iterator
          .map(k => scala.util.Try(Kernels.column(n, Seq.fill(k)(col("x")): _*)))
          .collectFirst { case scala.util.Success(c) => ColumnBridge.expression(c) }
        assert(built.isDefined, s"$n builds no Column at 0-2 arguments")
        assert(!built.get.exists(_.isInstanceOf[UnresolvedFunction]), s"$n: ${built.get}")
      }
    } finally SparkSession.setActiveSession(spark)
  }

  test("zorder_key interleaves bits: x at even positions, y at odd") {
    // x=10 (1010b) → bits 1,3 land at 2,6 → 68; y=5 (0101b) → bits 0,2
    // land at 1,5 → 34; key = 102. Full 32-bit lane: bit 31 of y lands
    // at position 63 (sign bit — still a total order for SORTing when
    // inputs stay below 2^31, which ids do).
    val row = spark.sql(
      """SELECT zorder_key(10L, 5L), zorder_key(10L, 0L), zorder_key(0L, 5L),
        |  zorder_key(4294967295L, 0L), zorder_key(0L, 1L)""".stripMargin).head()
    assert(row.getLong(0) == 102L)
    assert(row.getLong(1) == 68L)
    assert(row.getLong(2) == 34L)
    assert(row.getLong(3) == 0x5555555555555555L) // all 32 x-bits spread to evens
    assert(row.getLong(4) == 2L)
  }

  test("zorder_key clusters 2-D neighbors better than a 1-D sort") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 16x16 grid: under z-order, the average |rank distance| between a
    // cell and its right neighbor must beat sorting by y (where x
    // neighbors land 16 ranks apart consistently at best)
    val grid = (for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)).toDF("x", "y")
    val ranked = grid.withColumn("zkey", call_function("zorder_key", col("x"), col("y")))
      .withColumn("zrank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("zkey")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    val zdist = (for (x <- 0L until 15L; y <- 0L until 16L)
      yield math.abs(ranked((x + 1, y)) - ranked((x, y)))).sum /
      (15.0 * 16)
    // y-major sort puts x-neighbors exactly 16 apart; z-order must do
    // meaningfully better on average
    assert(zdist < 12.0, s"z-order x-neighbor rank distance $zdist should beat 16")
  }

  test("gcd/lcm edge semantics match the reference slt cases") {
    val row = spark.sql(
      """SELECT num_gcd(0L, 0L), num_gcd(-12L, 18L), num_lcm(0L, 5L),
        |  num_lcm(-4L, 6L)""".stripMargin).head()
    assert(row.getLong(0) == 0L)
    assert(row.getLong(1) == 6L)
    assert(row.getLong(2) == 0L)
    assert(row.getLong(3) == 12L)
  }
}
