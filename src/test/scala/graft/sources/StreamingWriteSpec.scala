package graft.sources

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.catalog.GraftCatalog
import graft.core.Turn
import graft.table.IcebergLite

/** The native DSv2 streaming write: `df.writeStream.toTable(...)` and
  * `.format(...).option("path", ...)` land in the same IcebergLite epoch
  * protocol as the foreachBatch sink — idempotent `(queryId, epochId)`
  * commits, bucket-true file layout, deterministic replay. */
class StreamingWriteSpec extends SparkSpec {

  private lazy val warehouse = tmpDir("graft-swrite-wh")

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gsw", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsw.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gsw.sw")
  }

  private def t(conv: String, idx: Int, tsSec: Long): Turn =
    Turn(conv, idx, "user", s"text $conv/$idx", null,
      new Timestamp(tsSec * 1000L))

  private val base = 1767225600L

  test("writeStream.toTable: epochs are micro-batches, bucket-true layout, " +
      "column order reordered to the declared schema") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // declared column order differs from Turn's field order (tool before
    // text) — the streaming writer must reorder task-side
    spark.sql(
      """CREATE TABLE gsw.sw.s1 (
        |  conv_id STRING, turn_idx INT, role STRING, tool STRING,
        |  text STRING, ts TIMESTAMP)
        |TBLPROPERTIES ('buckets'='4')""".stripMargin)
    val mem = MemoryStream[Turn]
    val q = mem.toDS().writeStream
      .option("checkpointLocation", tmpDir("swrite-ckpt1"))
      .trigger(Trigger.ProcessingTime(0))
      .toTable("gsw.sw.s1")
    try {
      mem.addData((0 until 20).map(i => t(f"conv-$i%03d", i, base + i)): _*)
      q.processAllAvailable()
      mem.addData((20 until 30).map(i => t(f"conv-$i%03d", i, base + i)): _*)
      q.processAllAvailable()
    } finally q.stop()

    val back = spark.table("gsw.sw.s1").collect()
    assert(back.length === 30)
    // content parity on the business columns
    val texts = back.map(r => (r.getAs[String]("conv_id"),
      r.getAs[Int]("turn_idx"), r.getAs[String]("text"))).toSet
    assert(texts === (0 until 30)
      .map(i => (f"conv-$i%03d", i, f"text conv-$i%03d/$i")).toSet)
    // partition_id IS the conv_id bucket — manifest pruning stays sound
    back.foreach { r =>
      assert(r.getAs[Int]("partition_id") ===
        IcebergLite.bucketOf(r.getAs[String]("conv_id"), 4))
    }
    // one epoch per micro-batch, in order
    val lite = new IcebergLite(s"$warehouse/sw/s1")
    assert(lite.snapshots.map(_.epochId) === Seq(0L, 1L))
    assert(back.map(_.getAs[Long]("epoch_id")).toSet === Set(0L, 1L))
    // data files carry the engine's deterministic names (epoch, bucket)
    val names = lite.effectiveFiles.map(_.path).sorted
    assert(names.forall(_.matches("data/part-\\d{6}-\\d{5}\\.parquet")))
    // staging fully swept after the commits
    assert(!Files.exists(Paths.get(s"$warehouse/sw/s1/_staging")) ||
      Files.list(Paths.get(s"$warehouse/sw/s1/_staging")).count() === 0L)
  }

  test("format+path writeStream into an existing table; conv_id point-scan " +
      "pruning works on streamed epochs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("swrite-path-t")
    new IcebergLite(root).create(
      "conv_id STRING, turn_idx INT, role STRING, text STRING, " +
        "tool STRING, ts TIMESTAMP", numBuckets = 4)
    val mem = MemoryStream[Turn]
    val q = mem.toDS().writeStream
      .format("graft.sources.IcebergLiteSource")
      .option("path", root)
      .option("checkpointLocation", tmpDir("swrite-ckpt2"))
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      mem.addData((0 until 16).map(i => t(s"c$i", i, base + i)): _*)
      q.processAllAvailable()
    } finally q.stop()

    val df = spark.read.format("graft.sources.IcebergLiteSource")
      .option("path", root).load()
    assert(df.count() === 16L)
    // point lookup reads only the matching bucket's file
    val hit = df.filter(col("conv_id") === "c3")
    assert(hit.count() === 1L)
    assert(hit.select("partition_id").as[Int].head() ===
      IcebergLite.bucketOf("c3", 4))
  }

  test("createIfAbsent: the first streamed batch creates the table with " +
      "the declared buckets; without the option an absent table fails loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("swrite-cia-t") + "/t"
    val mem = MemoryStream[Turn]
    mem.addData(t("c1", 0, base))
    val q = mem.toDS().writeStream
      .format("graft.sources.IcebergLiteSource")
      .option("path", root)
      .option("createIfAbsent", "true").option("buckets", "2")
      .option("checkpointLocation", tmpDir("swrite-cia-ckpt"))
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try { q.processAllAvailable() } finally q.stop()
    val lite = new IcebergLite(root)
    assert(lite.exists && lite.declaredNumBuckets === Some(2))
    assert(lite.read(spark).count() === 1L)

    val mem2 = MemoryStream[Turn]
    mem2.addData(t("c1", 0, base))
    val e = intercept[Exception] {
      val q2 = mem2.toDS().writeStream
        .format("graft.sources.IcebergLiteSource")
        .option("path", tmpDir("swrite-cia-absent") + "/nope")
        .option("checkpointLocation", tmpDir("swrite-cia-ckpt2"))
        .trigger(Trigger.ProcessingTime(0))
        .start()
      try q2.processAllAvailable() finally q2.stop()
    }
    def causes(x: Throwable): Seq[Throwable] =
      if (x == null) Nil else x +: causes(x.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("createIfAbsent")), e)
  }

  test("streaming-path determinism: two identical runs produce " +
      "byte-identical data files") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def runOnce(root: String): Unit = {
      new IcebergLite(root).create(
        "conv_id STRING, turn_idx INT, role STRING, text STRING, " +
          "tool STRING, ts TIMESTAMP", numBuckets = 4)
      val mem = MemoryStream[Turn]
      val q = mem.toDS().writeStream
        .format("graft.sources.IcebergLiteSource")
        .option("path", root)
        .option("checkpointLocation", tmpDir("swrite-ckpt-det"))
        .trigger(Trigger.ProcessingTime(0))
        .start()
      try {
        mem.addData((0 until 50).map(i => t(s"c${i % 7}", i, base + i)): _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    def shas(root: String): Map[String, String] = {
      val dir = Paths.get(root, "data")
      Files.list(dir).iterator().asScala.map { p =>
        val d = MessageDigest.getInstance("SHA-256")
          .digest(Files.readAllBytes(p))
        p.getFileName.toString -> d.map("%02x".format(_)).mkString
      }.toMap
    }
    val (a, b) = (tmpDir("swrite-det-a"), tmpDir("swrite-det-b"))
    runOnce(a); runOnce(b)
    assert(shas(a) === shas(b))
  }

  test("commitStagedEpoch: idempotent replay sweeps the replay's staging; " +
      "alien query fails loudly") {
    import spark.implicits._
    val root = tmpDir("swrite-staged-t")
    val lite = new IcebergLite(root)
    lite.create("conv_id STRING, turn_idx INT, role STRING, text STRING, " +
      "tool STRING, ts TIMESTAMP", numBuckets = 2)

    def stageOne(name: String): String = {
      val dir = Paths.get(root, "_staging", "ep-0")
      Files.createDirectories(dir)
      val tmp = tmpDir("swrite-frag")
      Seq(t("c1", 0, base)).toDF()
        .withColumn("epoch_id", lit(0L))
        .withColumn("partition_id", lit(IcebergLite.bucketOf("c1", 2)))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = dir.resolve(name)
      Files.copy(part, dst)
      dst.toString
    }

    val b = IcebergLite.bucketOf("c1", 2)
    val first = stageOne("task-a.parquet")
    assert(lite.commitStagedEpoch("q-1", 0L, Seq((first, b)), 2))
    assert(lite.effectiveFiles.map(_.rowCount).sum === 1L)

    // replayed epoch: freshly staged bytes are dropped, commit no-ops
    val replay = stageOne("task-b.parquet")
    assert(!lite.commitStagedEpoch("q-1", 0L, Seq((replay, b)), 2))
    assert(!Files.exists(Paths.get(replay)))
    assert(lite.effectiveFiles.map(_.rowCount).sum === 1L)

    // an alien query claiming the committed epoch id fails loudly
    val alien = stageOne("task-c.parquet")
    val e = intercept[IllegalStateException] {
      lite.commitStagedEpoch("q-2", 0L, Seq((alien, b)), 2)
    }
    assert(e.getMessage.contains("already committed by query"))

    // an EMPTY micro-batch still commits its epoch (S4: the snapshot log
    // records the no-op so replay and incremental offsets stay exact)
    assert(lite.commitStagedEpoch("q-1", 1L, Seq.empty, 2))
    assert(lite.isCommitted(1L))
    assert(lite.snapshots.find(_.epochId == 1L).get.files.isEmpty)
    assert(lite.effectiveFiles.map(_.rowCount).sum === 1L)
  }

  test("stop/restart from the checkpoint: epochs continue exactly-once, " +
      "no duplicated or skipped rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("swrite-resume-t")
    val ckpt = tmpDir("swrite-resume-ckpt")
    new IcebergLite(root).create(
      "conv_id STRING, turn_idx INT, role STRING, text STRING, " +
        "tool STRING, ts TIMESTAMP", numBuckets = 4)
    val mem = MemoryStream[Turn]
    def start() = mem.toDS().writeStream
      .format("graft.sources.IcebergLiteSource")
      .option("path", root)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()

    val q1 = start()
    try {
      mem.addData((0 until 10).map(i => t(s"a$i", i, base + i)): _*)
      q1.processAllAvailable()
    } finally q1.stop()

    val q2 = start()
    try {
      mem.addData((10 until 25).map(i => t(s"a$i", i, base + i)): _*)
      q2.processAllAvailable()
    } finally q2.stop()

    val lite = new IcebergLite(root)
    assert(lite.snapshots.map(_.epochId) === Seq(0L, 1L))
    val back = spark.read.format("graft.sources.IcebergLiteSource")
      .option("path", root).load()
      .select("conv_id", "turn_idx").as[(String, Int)].collect().toSet
    assert(back === (0 until 25).map(i => (s"a$i", i)).toSet)
  }

  test("autoCompactEvery: the sink folds epochs incrementally as it " +
      "streams; content exact, restart exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.sql(
      """CREATE TABLE gsw.sw.ac (
        |  conv_id STRING, turn_idx INT, role STRING, tool STRING,
        |  text STRING, ts TIMESTAMP)
        |TBLPROPERTIES ('buckets'='4')""".stripMargin)
    val ckpt = tmpDir("swrite-ac-ckpt")
    val mem = MemoryStream[Turn]
    def start() = mem.toDS().writeStream
      .option("checkpointLocation", ckpt)
      .option("autoCompactEvery", "2")
      .trigger(Trigger.ProcessingTime(0))
      .toTable("gsw.sw.ac")

    val q = start()
    try {
      (0 until 4).foreach { b =>
        mem.addData((0 until 10)
          .map(i => t(f"conv-$i%03d", b * 100 + i, base + b * 100 + i)): _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val lite = new IcebergLite(s"$warehouse/sw/ac")
    assert(lite.snapshots.map(_.epochId) === Seq(0L, 1L, 2L, 3L))
    // the fold fired at 2 pending epochs, twice; the second pass is
    // INCREMENTAL — the first generation's files reused verbatim
    assert(lite.compactions.map(_.gen) === Seq(0L, 1L))
    assert(lite.compactions.find(_.gen == 0L).get.files.map(_.path).toSet
      .subsetOf(lite.compactions.find(_.gen == 1L).get.files.map(_.path).toSet))
    assert(spark.table("gsw.sw.ac").count() === 40L)

    // restart on the same checkpoint: exactly-once continues, the fold
    // waits for its threshold (1 pending epoch -> no new generation)
    val q2 = start()
    try {
      mem.addData((0 until 10)
        .map(i => t(f"conv-$i%03d", 900 + i, base + 900 + i)): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val back = spark.table("gsw.sw.ac")
      .select("conv_id", "turn_idx").as[(String, Int)].collect()
    assert(back.length === 50 && back.distinct.length === 50)
    assert(lite.compactions.size === 2)
  }

  test("flagship redaction pipeline through the native sink == " +
      "Oracle.redactAll: rows, session_id and text_redacted") {
    import spark.implicits._
    import graft.stream.Pipeline
    val srcDir = tmpDir("pipe-parity-src")
    // two source files → two micro-batches (maxFilesPerTrigger = 1); a
    // far-future flush turn closes every session before the stream drains
    def slice(name: String, turns: Seq[Turn]): Unit = {
      val tmp = tmpDir("pipe-parity-frag")
      turns.toDS().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, Paths.get(srcDir, name))
    }
    val turns = (0 until 60).map(i => t(s"c${i % 5}", i, base + i))
    slice("a.parquet", turns.take(40))
    slice("b.parquet", turns.drop(40) :+
      Pipeline.flushTurn((base + 100000L) * 1000000L))

    val root = tmpDir("pipe-parity-t")
    Pipeline.runRedactionToTable(spark, srcDir, root,
      tmpDir("pipe-parity-cp"), numBuckets = 4).awaitTermination()
    val rows = new IcebergLite(root).read(spark)
      .select("conv_id", "turn_idx", "session_id", "text_redacted").collect()
    val golden = graft.text.Oracle.redactAll(turns)
      .map(r => (r.conv_id, r.turn_idx) -> (r.session_id, r.text_redacted)).toMap
    assert(rows.length === golden.size, "row count mismatch (lost or dup rows)")
    assert(rows.map(r => (r.getString(0), r.getInt(1)) ->
      (r.getLong(2), r.getString(3))).toMap === golden)
  }

  test("Complete output mode fails loudly: the epoch protocol is " +
      "append-only, silent re-append of full snapshots is refused") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("swrite-complete-t")
    new IcebergLite(root).create(
      "role STRING, n BIGINT", numBuckets = 2)
    val mem = MemoryStream[Turn]
    mem.addData(t("c1", 0, base))
    val e = intercept[Exception] {
      val q = mem.toDS().groupBy($"role").count()
        .select($"role", $"count".as("n"))
        .writeStream
        .format("graft.sources.IcebergLiteSource")
        .option("path", root)
        .option("checkpointLocation", tmpDir("swrite-complete-ckpt"))
        .outputMode("complete")
        .trigger(Trigger.ProcessingTime(0))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def causes(x: Throwable): Seq[Throwable] =
      if (x == null) Nil else x +: causes(x.getCause)
    assert(causes(e).exists(c =>
      c.getMessage != null && c.getMessage.contains("append-only")), e)
  }

  test("batch V1-fallback writes arrange the rows themselves (Spark does " +
      "not apply RequiresDistributionAndOrdering to them) — layout stays " +
      "bucket-true through SQL INSERT") {
    spark.sql(
      """CREATE TABLE gsw.sw.s2 (
        |  conv_id STRING, turn_idx INT, role STRING, tool STRING,
        |  text STRING, ts TIMESTAMP)
        |TBLPROPERTIES ('buckets'='4')""".stripMargin)
    import spark.implicits._
    (0 until 24).map(i => (s"c$i", i, "user", "none", s"t$i",
      new Timestamp((base + i) * 1000L)))
      .toDF("conv_id", "turn_idx", "role", "tool", "text", "ts")
      .createOrReplaceTempView("sw_src")

    // Current-Spark contract, measured: the V1 fallback's insert() receives
    // the BARE query plan, so the arranged-plan detection must stay false
    // and commitEpoch must arrange (a silently-true detection here would
    // write unbucketed files and break manifest pruning). If a Spark
    // upgrade flips this assert, the engine just started saving one batch
    // shuffle — re-pin the contract the other way after verifying layout.
    IcebergLite.lastStageArranged = true
    spark.sql(
      """INSERT INTO gsw.sw.s2
        |SELECT conv_id, turn_idx, role, tool, text, ts FROM sw_src""".stripMargin)
    assert(!IcebergLite.lastStageArranged,
      "V1-fallback INSERT reported an arranged plan — verify Spark now " +
        "applies RequiresDistributionAndOrdering to V1 writes and that the " +
        "layout below still holds, then update this pin")
    spark.table("gsw.sw.s2").collect().foreach { r =>
      assert(r.getAs[Int]("partition_id") ===
        IcebergLite.bucketOf(r.getAs[String]("conv_id"), 4))
    }
  }
}
