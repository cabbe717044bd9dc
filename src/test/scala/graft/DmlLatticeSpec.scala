package graft

import graft.catalog.Lattice
import graft.plans.{MaterializedViews, TableDml}
import org.apache.spark.sql.functions._

/** TableModify DML (update/delete/merge copy-on-write) and the lattice
  * tile recommender feeding MV substitution.
  */
class DmlLatticeSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("dml").toString + "/t"
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "tag", "amt").write.parquet(dir)
    dir
  }

  test("UPDATE rewrites matching rows, keeps the rest") {
    val dir = freshTable()
    val n = TableDml.update(spark, dir, col("id") <= 2,
      Map("amt" -> (col("amt") * 2), "tag" -> upper(col("tag"))))
    assert(n == 2)
    val got = spark.read.parquet(dir).orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "A", 20.0), (2L, "B", 40.0), (3L, "c", 30.0)))
  }

  test("DELETE removes matching rows and reports the count") {
    val dir = freshTable()
    val n = TableDml.delete(spark, dir, col("amt") > 15.0)
    assert(n == 2)
    assert(spark.read.parquet(dir).as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 10.0)))
  }

  test("MERGE upserts: update matched, insert new, keep untouched") {
    val dir = freshTable()
    val source = Seq((2L, "B2", 99.0), (4L, "d", 40.0)).toDF("id", "tag", "amt")
    TableDml.merge(spark, dir, source, "id")
    val got = spark.read.parquet(dir).orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "a", 10.0), (2L, "B2", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("MERGE rejects duplicate source keys (cardinality violation)") {
    val dir = freshTable()
    val dup = Seq((2L, "x", 1.0), (2L, "y", 2.0)).toDF("id", "tag", "amt")
    val e = intercept[IllegalArgumentException] {
      TableDml.merge(spark, dir, dup, "id")
    }
    assert(e.getMessage.contains("cardinality"))
  }

  test("INSERT INTO appends") {
    val dir = freshTable()
    TableDml.insertInto(spark, dir, Seq((9L, "z", 1.0)).toDF("id", "tag", "amt"))
    assert(spark.read.parquet(dir).count() == 4)
  }

  test("DML history is a temporal table: version reads, AS OF, vacuum") {
    val dir = freshTable()
    val t0 = System.currentTimeMillis()
    TableDml.update(spark, dir, col("id") === 1L, Map("amt" -> lit(99.0)))
    Thread.sleep(5)
    val tMid = System.currentTimeMillis()
    Thread.sleep(5)
    TableDml.delete(spark, dir, col("id") === 3L)

    val hist = TableDml.history(spark, dir)
    assert(hist.map(_._1) == Seq(0, 1), s"got $hist")
    // v0 = pristine pre-image, v1 = post-update, live = post-delete
    assert(TableDml.readVersion(spark, dir, 0)
      .filter(col("id") === 1L).collect()(0).getDouble(2) == 10.0)
    assert(TableDml.readVersion(spark, dir, 1)
      .filter(col("id") === 1L).collect()(0).getDouble(2) == 99.0)
    assert(TableDml.readVersion(spark, dir, 2).count() == 2)
    // AS OF: before the first commit → v0; between commits → v1; now → live
    assert(TableDml.readAsOf(spark, dir, t0 - 1).count() == 3)
    assert(TableDml.readAsOf(spark, dir, t0 - 1)
      .filter(col("id") === 1L).collect()(0).getDouble(2) == 10.0)
    assert(TableDml.readAsOf(spark, dir, tMid)
      .filter(col("id") === 1L).collect()(0).getDouble(2) == 99.0)
    assert(TableDml.readAsOf(spark, dir, System.currentTimeMillis()).count() == 2)
    // vacuum to the newest retired version only: v0 gone, v1 readable
    TableDml.vacuum(spark, dir, keepLast = 1)
    intercept[Exception](TableDml.readVersion(spark, dir, 0).count())
    assert(TableDml.readVersion(spark, dir, 1).count() == 3)
  }

  test("streaming upsert: micro-batches MERGE into the table, history versioned") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val dir = freshTable()
    val mem = MemoryStream[(Long, String, Double)]
    val q = graft.streaming.StreamOps.upsertStream(
      spark, dir, mem.toDS().toDF("id", "tag", "amt"), "id")
    try {
      mem.addData(Seq((2L, "b2", 200.0), (4L, "d", 40.0)))
      q.processAllAvailable()
      mem.addData(Seq((4L, "d2", 44.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(dir).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, "a", 10.0), (2L, "b2", 200.0),
      (3L, "c", 30.0), (4L, "d2", 44.0)))
    // both MERGE commits archived pre-images
    assert(TableDml.history(spark, dir).size == 2)
    assert(TableDml.readVersion(spark, dir, 0).count() == 3)
  }

  test("EXTEND clause reads declared-but-absent columns as typed NULLs") {
    T(spark, sfDir, "nation").createOrReplaceTempView("nation")
    val df = graft.sql.GraftSql.sql(spark, """
      SELECT n_name, wiki_url, population + 1 AS pop1
      FROM nation EXTEND (wiki_url STRING, population BIGINT)
      ORDER BY n_name LIMIT 3""")
    val r = df.collect()
    assert(r.length == 3)
    assert(r.forall(x => x.isNullAt(1) && x.isNullAt(2)))
    assert(df.schema("wiki_url").dataType.typeName == "string")
  }

  test("change data feed classifies insert/delete/update between versions") {
    val dir = freshTable()
    TableDml.update(spark, dir, col("id") === 2L, Map("amt" -> lit(99.0)))
    TableDml.delete(spark, dir, col("id") === 3L)
    TableDml.insertInto(spark, dir,
      Seq((4L, "d", 40.0)).toDF("id", "tag", "amt"))
    // v0 (pristine) vs live (= version history.size)
    val live = TableDml.history(spark, dir).size
    val ch = TableDml.changes(spark, dir, "id", 0, live)
      .select("id", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ch == Set((4L, "insert"), (3L, "delete"),
      (2L, "update_pre"), (2L, "update_post")), s"got $ch")
  }

  test("partition-scoped UPDATE rewrites only the touched partitions") {
    val dir = java.nio.file.Files.createTempDirectory("dmlp").toString + "/t"
    T(spark, sfDir, "orders")
      .write.partitionBy("o_orderstatus").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def mtimes(status: String): Seq[Long] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/o_orderstatus=$status")
      fs.listStatus(p).filter(_.isFile).map(_.getModificationTime).toSeq.sorted
    }
    val fBefore = mtimes("F")
    val (n, parts) = TableDml.updatePartitioned(spark, dir, "o_orderstatus",
      col("o_orderstatus") === "O" && col("o_totalprice") > 100000,
      Map("o_totalprice" -> lit(0.0)))
    assert(parts == 1, s"only the O partition must rewrite, got $parts")
    assert(n > 0)
    assert(mtimes("F") == fBefore, "untouched partition files must not be rewritten")
    val after = spark.read.parquet(dir)
    assert(after.filter(col("o_orderstatus") === "O" && col("o_totalprice") > 100000).count() == 0)
    assert(after.filter(col("o_orderstatus") === "F" && col("o_totalprice") > 100000).count() > 0)
  }

  test("lattice suggester picks the largest tile within budget") {
    val li = T(spark, sfDir, "lineitem")
    val dims = Seq("l_returnflag", "l_linestatus", "l_linenumber")
    val tiles = Lattice.suggestTiles(li, dims, budgetRows = 100, maxTiles = 3)
    assert(tiles.nonEmpty)
    // the full 3-dim tile is tiny (3*2*7 combos) — it should be kept
    // first and cover every sub-grouping, so nothing else is suggested
    assert(tiles.head.dims.toSet == dims.toSet)
    assert(tiles.size == 1)
    assert(tiles.head.estRows <= 100)
    assert(tiles.head.compression > 10)
    // an impossible budget yields no tiles rather than a bad one
    assert(Lattice.suggestTiles(li, dims, budgetRows = 1).isEmpty)
  }

  test("materialized tile answers rollup queries via MV substitution") {
    val li = T(spark, sfDir, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_linenumber", "l_quantity")
    val tiles = Lattice.suggestTiles(li, Seq("l_returnflag", "l_linestatus", "l_linenumber"), 100)
    Lattice.materialize(spark, "tile0", li, tiles.head, sums = Seq("l_quantity"))
    try {
      val q = li.groupBy("l_returnflag")
        .agg(sum(col("l_quantity")).as("s"), count(lit(1)).as("n"))
      val plan = q.queryExecution.optimizedPlan
      assert(plan.toString.contains("InMemoryRelation"), s"expected MV rewrite:\n$plan")
      // values still correct vs a fresh (non-rewritten) computation
      val fresh = T(spark, sfDir, "lineitem").groupBy("l_returnflag")
        .agg(sum(col("l_quantity")).as("s"), count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
      q.collect().foreach { r =>
        val (s, n) = fresh(r.getString(0))
        assert(math.abs(r.getDouble(1) - s) < 1e-6 && r.getLong(2) == n)
      }
    } finally MaterializedViews.drop(spark, "tile0")
  }

  test("closed advisor loop: profile → recommend → materialize → rewrite, budget-gated") {
    val li = T(spark, sfDir, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_linenumber", "l_quantity")
    try {
      // budget admits the full 3-dim tile (≤ 42 combos): one pass
      // profiles, suggestions materialize, and the workload rollup is
      // answered from a SUGGESTED tile with zero fact scans
      val names = graft.catalog.Lattice.materializeSuggestions(spark,
        "loop_tile", li,
        dims = Seq("l_returnflag", "l_linestatus", "l_linenumber"),
        sums = Seq("l_quantity"), budgetRows = 100)
      assert(names.nonEmpty)
      assert(names.forall(MaterializedViews.isRegistered))
      val q = li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).as("s"), count(lit(1)).as("n"))
      val plan = q.queryExecution.optimizedPlan
      assert(plan.toString.contains("InMemoryRelation"),
        s"workload rollup must hit a suggested tile:\n$plan")
      assert(plan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
      }.isEmpty, "fact must not be rescanned")

      // an impossible budget materializes NOTHING — the loop never
      // builds a tile that would out-cost the scans it saves
      MaterializedViews.clear()
      val none = graft.catalog.Lattice.materializeSuggestions(spark,
        "loop_none", li,
        dims = Seq("l_returnflag", "l_linestatus", "l_linenumber"),
        sums = Seq("l_quantity"), budgetRows = 1)
      assert(none.isEmpty)
      val q2 = li.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      assert(!q2.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"))
    } finally MaterializedViews.clear()
  }

  // ---- deferred join-tile append folds (r14) ----------------------------

  private def noScan(q: org.apache.spark.sql.DataFrame): Boolean = {
    val plan = q.queryExecution.optimizedPlan
    plan.toString.contains("InMemoryRelation") &&
      plan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
      }.isEmpty
  }

  test("a dim append returns from the barrier without the fact pass; the fold lands async") {
    val fact = java.nio.file.Files.createTempDirectory("dmlf").toString + "/f"
    val dim = java.nio.file.Files.createTempDirectory("dmlf").toString + "/d"
    Seq((1L, 10, 5.0), (2L, 20, 7.0), (3L, 10, 9.0))
      .toDF("id", "k", "v").write.parquet(fact)
    Seq((10, "x"), (20, "y")).toDF("dk", "name").write.parquet(dim)
    val gate = new java.util.concurrent.CountDownLatch(1)
    try {
      val star = spark.read.parquet(fact)
        .join(spark.read.parquet(dim), col("k") === col("dk"))
      MaterializedViews.register(spark, "defer_t", star,
        keys = Seq("name"), sums = Seq("v"))
      // hold the maintenance thread at the gate: everything that happens
      // before gate release provably ran WITHOUT the fold's fact pass
      MaterializedViews.foldTaskHook = () => {
        MaterializedViews.foldTaskHook = () => ()
        gate.await()
      }
      TableDml.insertInto(spark, dim, Seq((30, "z")).toDF("dk", "name"))
      // the barrier returned; the fold is queued, not run — the fact
      // pass never happened on the DML thread
      assert(MaterializedViews.pendingMaintenance("defer_t") == 1,
        "dim-append fold must be deferred off the DML thread")
      assert(MaterializedViews.isRegistered("defer_t"),
        "a deferred fold keeps the tile registered (pending, not dropped)")
      // a rollup issued WHILE pending must not ride the stale tile —
      // it falls back to the scan and stays correct
      def rollup = spark.read.parquet(fact)
        .join(spark.read.parquet(dim), col("k") === col("dk"))
        .groupBy("name").agg(sum("v").as("t")).orderBy("name")
      val pendingQ = rollup
      assert(!noScan(pendingQ),
        s"pending tile must be skipped by the rewrite:\n${pendingQ.queryExecution.optimizedPlan}")
      assert(pendingQ.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("x", 14.0), ("y", 7.0)))

      gate.countDown()
      MaterializedViews.awaitMaintenance()
      assert(MaterializedViews.pendingMaintenance("defer_t") == 0)
      val q = rollup
      assert(noScan(q),
        s"folded tile must serve again:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("x", 14.0), ("y", 7.0)))
    } finally {
      gate.countDown()
      MaterializedViews.foldTaskHook = () => ()
      MaterializedViews.clear()
    }
  }

  test("queued folds on BOTH sides of a join tile stay exact: no double-counted cross delta") {
    val fact = java.nio.file.Files.createTempDirectory("dmlf").toString + "/f"
    val dim = java.nio.file.Files.createTempDirectory("dmlf").toString + "/d"
    Seq((1L, 10, 5.0), (2L, 20, 7.0)).toDF("id", "k", "v").write.parquet(fact)
    Seq((10, "x"), (20, "y")).toDF("dk", "name").write.parquet(dim)
    val gate = new java.util.concurrent.CountDownLatch(1)
    try {
      val star = spark.read.parquet(fact)
        .join(spark.read.parquet(dim), col("k") === col("dk"))
      MaterializedViews.register(spark, "defer_x", star,
        keys = Seq("name"), sums = Seq("v"))
      MaterializedViews.foldTaskHook = () => {
        MaterializedViews.foldTaskHook = () => ()
        gate.await()
      }
      // two appends land while fold #1 is still queued — and they JOIN
      // each other (k=30 ⋈ dk=30): fold #1 reading live dim files would
      // see the later dim row and double-count Δfact⋈Δdim
      TableDml.insertInto(spark, fact, Seq((3L, 30, 11.0)).toDF("id", "k", "v"))
      TableDml.insertInto(spark, dim, Seq((30, "z")).toDF("dk", "name"))
      assert(MaterializedViews.pendingMaintenance("defer_x") == 2)
      gate.countDown()
      MaterializedViews.awaitMaintenance()
      assert(MaterializedViews.isRegistered("defer_x"),
        "both queued folds must land, not drop")
      val q = spark.read.parquet(fact)
        .join(spark.read.parquet(dim), col("k") === col("dk"))
        .groupBy("name").agg(sum("v").as("t")).orderBy("name")
      assert(noScan(q), s"tile must serve:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("x", 5.0), ("y", 7.0), ("z", 11.0)),
        "snapshot folds must count the cross delta exactly once")
    } finally {
      gate.countDown()
      MaterializedViews.foldTaskHook = () => ()
      MaterializedViews.clear()
    }
  }

  test("a destructive write racing a queued fold wins: the fold never resurrects the tile") {
    val fact = java.nio.file.Files.createTempDirectory("dmlf").toString + "/f"
    val dim = java.nio.file.Files.createTempDirectory("dmlf").toString + "/d"
    Seq((1L, 10, 5.0), (2L, 20, 7.0)).toDF("id", "k", "v").write.parquet(fact)
    Seq((10, "x"), (20, "y")).toDF("dk", "name").write.parquet(dim)
    val gate = new java.util.concurrent.CountDownLatch(1)
    try {
      val star = spark.read.parquet(fact)
        .join(spark.read.parquet(dim), col("k") === col("dk"))
      MaterializedViews.register(spark, "defer_d", star,
        keys = Seq("name"), sums = Seq("v"))
      MaterializedViews.foldTaskHook = () => {
        MaterializedViews.foldTaskHook = () => ()
        gate.await()
      }
      TableDml.insertInto(spark, dim, Seq((30, "z")).toDF("dk", "name"))
      assert(MaterializedViews.pendingMaintenance("defer_d") == 1)
      // an UPDATE on the fact drops the tile while the fold is queued
      TableDml.update(spark, fact, col("id") === 1L, Map("v" -> lit(50.0)))
      assert(!MaterializedViews.isRegistered("defer_d"))
      gate.countDown()
      MaterializedViews.awaitMaintenance()
      assert(!MaterializedViews.isRegistered("defer_d"),
        "the cancelled fold must not resurrect a dropped tile")
      val q = spark.read.parquet(fact)
        .join(spark.read.parquet(dim), col("k") === col("dk"))
        .groupBy("name").agg(sum("v").as("t")).orderBy("name")
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("x", 50.0), ("y", 7.0)))
    } finally {
      gate.countDown()
      MaterializedViews.foldTaskHook = () => ()
      MaterializedViews.clear()
    }
  }

  test("a PARTITIONED fact still folds off-thread: basePath snapshots keep partition columns") {
    val fact = java.nio.file.Files.createTempDirectory("dmlp").toString + "/f"
    val dim = java.nio.file.Files.createTempDirectory("dmlp").toString + "/d"
    Seq((1L, 10, 1, 5.0), (2L, 20, 1, 7.0), (3L, 30, 2, 11.0))
      .toDF("id", "k", "p", "v").write.partitionBy("p").parquet(fact)
    Seq((10, "x"), (20, "y")).toDF("dk", "name").write.parquet(dim)
    val gate = new java.util.concurrent.CountDownLatch(1)
    try {
      val star = spark.read.parquet(fact)
        .join(spark.read.parquet(dim), col("k") === col("dk"))
      MaterializedViews.register(spark, "defer_p", star,
        keys = Seq("name"), sums = Seq("v"))
      MaterializedViews.foldTaskHook = () => {
        MaterializedViews.foldTaskHook = () => ()
        gate.await()
      }
      TableDml.insertInto(spark, dim, Seq((30, "z")).toDF("dk", "name"))
      // the r13 stall case was precisely this shape: a dim append whose
      // star delta needs a PARTITIONED fact pass — it must defer, not
      // fall back to the synchronous fold
      assert(MaterializedViews.pendingMaintenance("defer_p") == 1,
        "partitioned-fact fold must defer via the basePath snapshot")
      gate.countDown()
      MaterializedViews.awaitMaintenance()
      assert(MaterializedViews.isRegistered("defer_p"), "fold must land, not drop")
      val q = spark.read.parquet(fact)
        .join(spark.read.parquet(dim), col("k") === col("dk"))
        .groupBy("name").agg(sum("v").as("t")).orderBy("name")
      assert(noScan(q), s"tile must serve:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("x", 5.0), ("y", 7.0), ("z", 11.0)))
    } finally {
      gate.countDown()
      MaterializedViews.foldTaskHook = () => ()
      MaterializedViews.clear()
    }
  }

  // ---- append-fold job budget -----------------------------------------

  /** Groups of the jobs the listener bus delivered (barrier jobs aside),
    * their descriptions, and how many stages wrote shuffle output. */
  private final class JobLog extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler._
    private val Barrier = "joblog:barrier"
    private val jobs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    private var barrierJob = -1
    private var drained = false
    private var shuffled = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(e.properties).map(_.getProperty(k)).orNull
      val group = prop("spark.jobGroup.id")
      if (group == Barrier) barrierJob = e.jobId
      else jobs += ((group, prop("spark.job.description")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (e.jobId == barrierJob) { drained = true; notifyAll() }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0) shuffled += 1
    }
    /** Block until the bus has delivered every event up to now: a
      * barrier job's end arrives after all earlier events. */
    def drain(sc: org.apache.spark.SparkContext): Unit = {
      sc.setJobGroup(Barrier, Barrier)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      synchronized {
        val deadline = System.currentTimeMillis() + 30000
        while (!drained && System.currentTimeMillis() < deadline) wait(100)
        assert(drained, "listener bus did not drain")
      }
    }
    def groupsAndDescriptions: Seq[(String, String)] = synchronized(jobs.toSeq)
    def jobCount: Int = synchronized(jobs.size)
    def shuffleStages: Int = synchronized(shuffled)
  }

  /** Run `body` (which must wait for its own deferred folds) with a
    * listener attached; returns what it saw. */
  private def logJobs(body: => Unit): JobLog = {
    val log = new JobLog
    val sc = spark.sparkContext
    sc.addSparkListener(log)
    try { body; log.drain(sc) } finally sc.removeSparkListener(log)
    log
  }

  /** A tile's rows, sorted: `registerOnce` with an unchanged definition
    * hands back the live (folded) tile frame. */
  private def tileRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** One append into a single-leaf tile and one into a join tile, each
    * counted by a listener; both folded tiles must equal a registration
    * made afresh over the same files. Returns (single-leaf jobs, join
    * jobs, shuffle-writing stages over both appends). */
  private def foldAndCompare(tag: String): (Int, Int, Int) = {
    val root = java.nio.file.Files.createTempDirectory("foldjobs").toString
    val (fact1, fact2, dim) = (s"$root/f1", s"$root/f2", s"$root/d")
    val facts = Seq((1L, 10, 5.0, "a"), (2L, 20, 7.0, "b"), (3L, 10, 9.0, "c"))
      .toDF("id", "k", "v", "s")
    facts.write.parquet(fact1)
    facts.write.parquet(fact2)
    Seq((10, "x"), (20, "y"), (30, "z")).toDF("dk", "name").write.parquet(dim)
    def single = spark.read.parquet(fact1)
    def star = spark.read.parquet(fact2)
      .join(spark.read.parquet(dim), col("k") === col("dk"))
    // registerOnce registers a new name and hands back the live tile of
    // a registered one
    def singleTile(name: String) = MaterializedViews.registerOnce(spark, name, single,
      keys = Seq("k"), sums = Seq("v"), mins = Seq("id"), maxs = Seq("id"), counts = Seq("s"))
    def starTile(name: String) = MaterializedViews.registerOnce(spark, name, star,
      keys = Seq("name"), sums = Seq("v"), maxs = Seq("id"))
    try {
      singleTile(s"${tag}_s")
      starTile(s"${tag}_j")
      val delta = Seq((4L, 20, 11.0, "d"), (5L, 30, 13.0, null: String))
        .toDF("id", "k", "v", "s")
      val singleLog = logJobs {
        TableDml.insertInto(spark, fact1, delta)
        MaterializedViews.awaitMaintenance()
      }
      val joinLog = logJobs {
        TableDml.insertInto(spark, fact2, delta)
        MaterializedViews.awaitMaintenance()
      }
      assert(MaterializedViews.isRegistered(s"${tag}_s") &&
        MaterializedViews.isRegistered(s"${tag}_j"), "both folds must land, not drop")
      val folded = (tileRows(singleTile(s"${tag}_s")), tileRows(starTile(s"${tag}_j")))
      val fresh = (tileRows(singleTile(s"${tag}_s_fresh")),
        tileRows(starTile(s"${tag}_j_fresh")))
      assert(folded == fresh, "a folded tile must equal a fresh registration")
      assert(folded._1.size == 3 && folded._2.size == 3)
      (singleLog.jobCount, joinLog.jobCount,
        singleLog.shuffleStages + joinLog.shuffleStages)
    } finally MaterializedViews.clear()
  }

  test("a small append fold runs in one partition: a fixed job budget, exact tiles") {
    val (singleJobs, joinJobs, shuffles) = foldAndCompare("budget")
    // single-leaf tile: the append's write plus ONE job that merges,
    // lineage-cuts and caches the tile. Join tile: the write, the
    // broadcast of the appended rows, and that same one job.
    assert(singleJobs <= 2, s"single-leaf append took $singleJobs jobs")
    assert(joinJobs <= 3, s"join-tile append took $joinJobs jobs")
    assert(shuffles == 0, s"a one-partition fold must not shuffle ($shuffles stages did)")
  }

  test("above the advisory partition size the fold stays distributed and exact") {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "1b")
    try {
      val (_, _, shuffles) = foldAndCompare("distributed")
      assert(shuffles > 0, "inputs above the advisory size must take the shuffled plan")
    } finally spark.conf.unset(key)
  }

  test("deferred folds run under their own job group, cleared after each fold") {
    val fact = java.nio.file.Files.createTempDirectory("foldgrp").toString + "/f"
    val dim = java.nio.file.Files.createTempDirectory("foldgrp").toString + "/d"
    Seq((1L, 10, 5.0), (2L, 20, 7.0)).toDF("id", "k", "v").write.parquet(fact)
    Seq((10, "x"), (20, "y")).toDF("dk", "name").write.parquet(dim)
    val sc = spark.sparkContext
    val leftOver = new java.util.concurrent.atomic.AtomicReference[String]("unset")
    try {
      MaterializedViews.register(spark, "group_j", spark.read.parquet(fact)
        .join(spark.read.parquet(dim), col("k") === col("dk")),
        keys = Seq("name"), sums = Seq("v"))
      val log = logJobs {
        sc.setJobGroup("caller-group", "caller")
        try {
          TableDml.insertInto(spark, fact, Seq((3L, 10, 1.0)).toDF("id", "k", "v"))
          MaterializedViews.awaitMaintenance()
          // the next fold task starts on the same maintenance thread: its
          // hook sees whatever group the previous fold left behind
          MaterializedViews.foldTaskHook = () => {
            MaterializedViews.foldTaskHook = () => ()
            leftOver.set(sc.getLocalProperty("spark.jobGroup.id"))
          }
          TableDml.insertInto(spark, dim, Seq((30, "z")).toDF("dk", "name"))
          MaterializedViews.awaitMaintenance()
        } finally sc.clearJobGroup()
      }
      val foldJobs = log.groupsAndDescriptions
        .filter(_._1 == MaterializedViews.foldJobGroup("group_j"))
      assert(foldJobs.size >= 2, s"fold jobs by group: ${log.groupsAndDescriptions}")
      assert(foldJobs.forall(_._2.contains("group_j")),
        s"fold job descriptions must name the tile: $foldJobs")
      assert(leftOver.get == null, s"a finished fold left job group ${leftOver.get}")
    } finally {
      MaterializedViews.foldTaskHook = () => ()
      MaterializedViews.clear()
    }
  }

  test("correlated dimensions: the pair-aware profile admits the tile the product rejects") {
    import spark.implicits._
    // quarter is DETERMINED by month: card(month)=24, card(quarter)=8,
    // card(month, quarter)=24 — the independence product says 192
    val dir = java.nio.file.Files.createTempDirectory("fd").toString + "/t"
    (0 until 5000).map { i =>
      val m = i % 24; (i.toLong, m, m / 3, i.toDouble)
    }.toDF("id", "month", "quarter", "v").write.parquet(dir)
    val df = spark.read.parquet(dir)
    try {
      // budget sits BETWEEN the true joint size (24) and the product
      // (192): only a correlation-aware estimate admits the 2-dim tile
      val tiles = Lattice.suggestTiles(df, Seq("month", "quarter"),
        budgetRows = 60, maxTiles = 2)
      assert(tiles.exists(_.dims.toSet == Set("month", "quarter")),
        s"the determined pair must fit the budget: $tiles")
      assert(tiles.head.estRows <= 30,
        s"pair estimate must track the joint cardinality, got ${tiles.head.estRows}")

      // the full loop: the admitted suggestion materializes and the
      // workload rollup rides it — and the REAL tile indeed fit
      val names = Lattice.materializeSuggestions(spark, "fd_tile", df,
        dims = Seq("month", "quarter"), sums = Seq("v"), budgetRows = 60)
      assert(names.nonEmpty)
      val q = df.groupBy("month", "quarter").agg(sum("v").as("t"))
      assert(noScan(q),
        s"rollup must ride the FD-admitted tile:\n${q.queryExecution.optimizedPlan}")
      assert(q.count() == 24)
    } finally MaterializedViews.clear()
  }

  test("FD discovery: the pair sketches classify determined pairs both ways") {
    import spark.implicits._
    val df = (0 until 3000).map { i =>
      val m = i % 24; (m, m / 3, i % 7)
    }.toDF("month", "quarter", "noise")
    val fds = Lattice.functionalDependencies(df, Seq("month", "quarter", "noise"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    assert(fds(("month", "quarter")), "month determines quarter")
    assert(!fds(("quarter", "month")), "quarter does not determine month")
    assert(!fds(("month", "noise")) && !fds(("noise", "month")) &&
      !fds(("quarter", "noise")) && !fds(("noise", "quarter")),
      s"independent columns must not classify as FDs: $fds")
  }

  test("unique-key discovery: singles and pairs classify against the row count") {
    import spark.implicits._
    val df = (0 until 2000).map(i => (i.toLong, i % 40, i % 50))
      .toDF("id", "a", "b")
    val keys = Lattice.uniqueKeyCandidates(df, Seq("id", "a", "b"))
      .collect().map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(keys("id"), "id is a key")
    assert(!keys("a") && !keys("b"), "low-cardinality columns are not")
    assert(keys.exists { case (c, v) => c.contains(",") &&
      c.split(",").contains("id") && v },
      s"pairs containing the key are keys: $keys")
    // (a, b) has lcm(40, 50) = 200 combinations over 2000 rows: not a key
    assert(!keys.getOrElse("a,b", true), s"correlated small pair is not a key: $keys")
  }
}
