package graft.table

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Merge-on-read DELETE via deletion vectors ([[IcebergLite.deleteWhereMor]]):
  * a small purge records the matched ORIGINAL-ROW POSITIONS as a parquet
  * sidecar instead of rewriting the file — the manifest entry keeps the
  * same path with survivor-exact rowCount, so the whole manifest algebra
  * (views, stream patching, compaction folding, gc, CDC, restore, time
  * travel) composes; only row reads apply the vector. */
class DvDeleteSpec extends SparkSpec {

  private val baseMicros = 1767225600L * 1000000L
  private def tsAt(d: Long) = new java.sql.Timestamp((baseMicros + d) / 1000L)

  /** 2 epochs × 8 convs × 10 turns, 2 buckets. */
  private def buildTable(name: String): IcebergLite = {
    import spark.implicits._
    val t = new IcebergLite(tmpDir(name))
    t.create("conv_id string, turn_idx int, ts timestamp", 2)
    (0L until 2L).foreach { ep =>
      val rows = for (c <- 0 until 8; i <- 0 until 10) yield
        (f"conv$c%02d", ep.toInt * 10 + i, tsAt(ep * 3600000000L + c * 60000000L + i))
      assert(t.commitEpoch(rows.toDF("conv_id", "turn_idx", "ts"), "w", ep, 2))
    }
    t
  }

  private def conn(t: IcebergLite) =
    spark.read.format("graft.sources.IcebergLiteSource")
      .option("path", t.root).load()

  test("a small purge records a vector, not a rewrite: paths unchanged, " +
      "survivor counts exact, engine AND connector reads agree") {
    val t = buildTable("dv-basic")
    val before = t.effectiveFiles.map(_.path).toSet
    val pre = t.currentVersion
    // one conv's turn in each epoch: 2 rows of 160, well under the fraction
    val deleted = t.deleteWhereMor(spark,
      col("conv_id") === "conv03" && col("turn_idx").isin(0, 10),
      "conv_id = 'conv03' AND turn_idx IN (0, 10)")
    assert(deleted === 2L)
    val after = t.effectiveFiles
    // no new data files, no dropped data files — only vectors attached
    assert(after.map(_.path).toSet === before)
    val dvd = after.filter(_.dvPath.isDefined)
    assert(dvd.nonEmpty)
    assert(after.map(_.rowCount).sum === 158L)
    // the vector sidecars exist and are tiny
    dvd.foreach { f =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(t.root, f.dvPath.get)), f.dvPath.get)
    }
    // engine read, connector read and connector count all serve survivors
    assert(t.read(spark).count() === 158L)
    assert(t.read(spark)
      .filter(col("conv_id") === "conv03" && col("turn_idx").isin(0, 10))
      .count() === 0L)
    assert(conn(t).count() === 158L)
    assert(conn(t).filter(col("conv_id") === "conv03").count() === 18L)
    // pushed-filter read over a DV'd bucket stays exact (row-mode fallback)
    assert(conn(t).filter(col("conv_id") === "conv03")
      .agg(sum(col("turn_idx"))).head().getLong(0) ===
      (0 until 10).sum + (10 until 20).sum - 0 - 10)
    // CDC: the net diff surfaces exactly the purged rows as deletes
    val diff = TableChanges.between(spark, t.root, pre, Some(t.currentVersion))
    assert(diff.count() === 2L)
    assert(diff.select("_change_type").distinct().head().getString(0) === "delete")
    // time travel to a HISTORICAL pre-delete state serves the originals
    // (AS OF <latest> is the live view by construction, so pin epoch 0)
    assert(t.readAsOf(spark, 0L).count() === 80L)
    assert(t.readAsOf(spark, 0L)
      .filter(col("conv_id") === "conv03" && col("turn_idx") === 0)
      .count() === 1L)
  }

  test("under spark.sql.files.maxRecordsPerFile=1 a MOR delete loses no " +
      "position: each vector is claimed as exactly one file") {
    val t = buildTable("dv-roll")
    val key = "spark.sql.files.maxRecordsPerFile"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    // two turns of one conv per epoch: 2 positions in each of 2 vectors
    val purged = col("conv_id") === "conv03" && col("turn_idx").isin(0, 1, 10, 11)
    val deleted =
      try t.deleteWhereMor(spark, purged, "conv03 turns 0, 1, 10, 11")
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(deleted === 4L)
    assert(t.effectiveFiles.count(_.dvPath.isDefined) === 2)
    assert(t.read(spark).count() === 156L)
    assert(t.read(spark).filter(purged).count() === 0L)
    assert(conn(t).count() === 156L)
  }

  test("hybrid per file: full match drops, large fraction rewrites, small " +
      "fraction vectors — in ONE commit") {
    val t = buildTable("dv-hybrid")
    // bucket routing: find one conv per bucket
    val byBucket = (0 until 8).map(c => f"conv$c%02d")
      .groupBy(c => IcebergLite.bucketOf(c, 2))
    val b0 = byBucket(0)
    // kill EVERY conv of bucket 0 in epoch 0 (its file fully matches),
    // most turns of bucket 0 in epoch 1 (large fraction -> rewrite), and
    // 1 turn of one bucket-1 conv (small fraction -> vector)
    val b1conv = byBucket(1).head
    val n = t.deleteWhereMor(spark,
      (col("conv_id").isin(b0: _*) && col("turn_idx") < 10) ||
        (col("conv_id").isin(b0: _*) && col("turn_idx") >= 10 &&
          col("turn_idx") < 19) ||
        (col("conv_id") === b1conv && col("turn_idx") === 5),
      "hybrid")
    assert(n === b0.size * 10L + b0.size * 9L + 1L)
    val files = t.effectiveFiles
    // the fully-matched epoch-0 bucket-0 file is GONE
    assert(!files.exists(f => f.path.contains("part-0") &&
      f.convIdMin.exists(b0.contains) && f.dvPath.isEmpty &&
      f.rowCount == b0.size * 10L))
    // a rewrite (part-d) exists for the large fraction
    assert(files.exists(_.path.contains("part-d")))
    // a vector exists for the small fraction
    assert(files.exists(_.dvPath.isDefined))
    assert(t.read(spark).count() === 160L - n)
    assert(conn(t).count() === 160L - n)
  }

  test("chained MOR deletes fold into ONE cumulative vector; a later cow " +
      "rewrite folds it away") {
    val t = buildTable("dv-chain")
    assert(t.deleteWhereMor(spark,
      col("conv_id") === "conv01" && col("turn_idx") === 0, "p1") === 1L)
    assert(t.deleteWhereMor(spark,
      col("conv_id") === "conv01" && col("turn_idx") === 1, "p2") === 1L)
    val dvd = t.effectiveFiles.filter(_.dvPath.isDefined)
    // the twice-deleted file carries exactly one (cumulative) vector
    assert(dvd.count(_.convIdMin.exists(_ <= "conv01")) >= 1)
    assert(t.read(spark).count() === 158L)
    assert(t.read(spark).filter(col("conv_id") === "conv01").count() === 18L)
    // cow delete on the same file folds the vector into a plain rewrite
    assert(t.deleteWhere(spark,
      col("conv_id") === "conv01" && col("turn_idx") === 2, "p3") === 1L)
    val after = t.effectiveFiles
    assert(after.forall(f => f.dvPath.isEmpty || !f.path.contains(
      dvd.head.path)), "the rewritten file must drop its vector")
    assert(t.read(spark).count() === 157L)
    assert(t.read(spark).filter(col("conv_id") === "conv01")
      .select("turn_idx").collect().map(_.getInt(0)).sorted.toSeq ===
      (3 until 10) ++ (10 until 20))
  }

  test("compaction folds vectors; gc reclaims the originals + vectors; " +
      "reads stay content-exact throughout") {
    val t = buildTable("dv-compact")
    // 1 row per (epoch, bucket) file of 40 — well under the MOR fraction
    // (a whole-conv purge would be 25% of its file and fall back to a
    // rewrite, which this test is specifically NOT about)
    t.deleteWhereMor(spark,
      col("conv_id") === "conv05" && col("turn_idx").isin(0, 10),
      "purge conv05 head")
    assert(t.effectiveFiles.exists(_.dvPath.isDefined),
      "precondition: the purge must have produced a vector")
    val expect = t.read(spark).collect().map(_.toString).sorted
    assert(expect.length === 158)
    t.compact(spark, numBuckets = 2, full = true)
    val files = t.effectiveFiles
    assert(files.forall(_.dvPath.isEmpty), "compaction must fold vectors")
    assert(t.read(spark).collect().map(_.toString).sorted === expect)
    assert(conn(t).count() === 158L)
    val reclaimed = t.gc()
    assert(reclaimed.exists(_.startsWith("data/dv-")),
      s"folded vectors must be reclaimable: $reclaimed")
    assert(t.read(spark).collect().map(_.toString).sorted === expect)
  }

  test("incremental stream over a DV'd epoch delta replays survivors only") {
    val t = buildTable("dv-stream")
    t.deleteWhereMor(spark,
      col("conv_id") === "conv02" && col("turn_idx") < 12, "purge head")
    val q = spark.readStream.format("graft.sources.IcebergLiteSource")
      .option("path", t.root).load()
      .groupBy(col("epoch_id")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("dv_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val byEpoch = spark.table("dv_stream").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // epoch 0 lost turns 0..9 of conv02 (10 rows), epoch 1 lost 10..11 (2)
    assert(byEpoch === Map(0L -> 70L, 1L -> 78L))
  }

  test("restore undoes a MOR delete metadata-only and re-applies on " +
      "restore-of-restore") {
    val t = buildTable("dv-restore")
    val pre = t.currentVersion
    t.deleteWhereMor(spark, col("conv_id") === "conv07", "purge conv07")
    val post = t.currentVersion
    assert(t.read(spark).count() === 140L)
    val st = t.restore(spark, pre)
    assert(st.gen > 0)
    assert(t.read(spark).count() === 160L, "restore must resurrect DV'd rows")
    assert(conn(t).count() === 160L)
    val st2 = t.restore(spark, post)
    assert(st2.gen > st.gen)
    assert(t.read(spark).count() === 140L)
    assert(t.read(spark).filter(col("conv_id") === "conv07").count() === 0L)
  }

  test("tags pin a folded MOR entry's ORIGINAL file and its vector " +
      "through gc; dropping the tag releases both") {
    val t = buildTable("dv-tagpin")
    t.tag("v1", 1L)
    t.deleteWhereMor(spark,
      col("conv_id") === "conv04" && col("turn_idx").isin(1, 11), "2 rows")
    val postDelete = t.currentVersion
    assert(t.effectiveFiles.exists(_.dvPath.isDefined))
    t.compact(spark, numBuckets = 2, full = true) // folds the vector's gen
    val reclaimed = t.gc()
    assert(!reclaimed.exists(_.startsWith("data/dv-")),
      s"a tag at epoch 1 must pin the folded vector: $reclaimed")
    // the tagged history is still fully replayable...
    assert(t.readAsOf(spark, 0L).count() === 80L)
    // ...including the post-delete pre-compaction STATE, which needs the
    // vector to reconstruct (compaction is content-neutral: empty diff)
    assert(TableChanges.between(spark, t.root, postDelete,
      Some(t.currentVersion)).count() === 0L)
    t.dropTag("v1")
    val after = t.gc()
    assert(after.exists(_.startsWith("data/dv-")),
      s"dropping the tag must release the folded vector: $after")
    assert(t.read(spark).count() === 158L)
  }

  test("SQL DELETE FROM routes to vectors under " +
      "spark.sql.graft.deleteMode=mor; cow stays the default") {
    import spark.implicits._
    val wh = tmpDir("dv-sql-wh")
    spark.conf.set("spark.sql.catalog.gdv",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdv.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdv.db")
    val t = new IcebergLite(s"$wh/db/sqlmor")
    t.create("conv_id string, turn_idx int, ts timestamp", 2)
    val rows = for (c <- 0 until 8; i <- 0 until 10) yield
      (f"conv$c%02d", i, tsAt(c * 60000000L + i))
    assert(t.commitEpoch(rows.toDF("conv_id", "turn_idx", "ts"), "w", 0L, 2))
    try {
      spark.conf.set("spark.sql.graft.deleteMode", "mor")
      spark.sql("DELETE FROM gdv.db.sqlmor WHERE turn_idx = 7")
      assert(t.effectiveFiles.exists(_.dvPath.isDefined),
        "mor mode must record a vector")
      assert(spark.table("gdv.db.sqlmor").count() === 72L)
      spark.conf.set("spark.sql.graft.deleteMode", "cow")
      spark.sql("DELETE FROM gdv.db.sqlmor WHERE turn_idx = 8")
      assert(t.effectiveFiles.forall(_.dvPath.isEmpty),
        "the cow rewrite must fold the earlier vector")
      assert(spark.table("gdv.db.sqlmor").count() === 64L)
      spark.conf.set("spark.sql.graft.deleteMode", "bogus")
      val ex = intercept[Exception](
        spark.sql("DELETE FROM gdv.db.sqlmor WHERE turn_idx = 9"))
      assert(ex.toString.contains("deleteMode") ||
        Option(ex.getCause).exists(_.toString.contains("deleteMode")))
    } finally spark.conf.unset("spark.sql.graft.deleteMode")
  }

  test("metadata pushdown: COUNT stays (survivor-exact), MIN/MAX declines " +
      "over DV'd entries; orphan scan never eats a referenced vector") {
    val t = buildTable("dv-meta")
    t.deleteWhereMor(spark,
      col("conv_id") === "conv00" && col("turn_idx") === 0, "one row")
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.head
    val cnt = conn(t).agg(count(lit(1)).as("n"))
    assert(scanOf(cnt).isInstanceOf[graft.sources.MetadataAggScan])
    assert(cnt.head().getLong(0) === 159L)
    val mn = conn(t).agg(min(col("ts")).as("lo"))
    assert(!scanOf(mn).isInstanceOf[graft.sources.MetadataAggScan],
      "MIN over a DV'd view must decline the metadata answer")
    assert(mn.head().getTimestamp(0) !== null)
    // removeOrphans: the referenced vector survives; a fake unreferenced
    // settled vector is reclaimed
    val dvPath = t.effectiveFiles.flatMap(_.dvPath).head
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(t.root, dvPath),
      java.nio.file.Paths.get(t.root, "data", "dv-0001-99999.parquet"))
    val gone = t.removeOrphans()
    assert(gone.contains("data/dv-0001-99999.parquet"), gone.toString)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(t.root, dvPath)))
    assert(t.read(spark).count() === 159L)
  }

  test("MERGE over a DV'd file: purged rows stay dead through UPDATE, " +
      "full-drop counts survivors, and a purged-only key re-INSERTS") {
    import spark.implicits._
    val t = buildTable("dv-merge")
    // vector conv03's first two turns of epoch 0 (file keeps its path)
    assert(t.deleteWhereMor(spark,
      col("conv_id") === "conv03" && col("turn_idx").isin(0, 1),
      "purge conv03 turns 0-1") === 2L)
    assert(t.effectiveFiles.exists(_.dvPath.isDefined))

    // (a) UPDATE-all feed touching conv03's SURVIVING turn 2 — the rewrite
    // folds the vector; the purged turns 0/1 must NOT resurrect
    val upd = Seq(("conv03", 2, tsAt(999L))).toDF("conv_id", "turn_idx", "ts")
    val s1 = t.merge(spark, upd, "dv-merge-upd", Some(MergeUpdateAll),
      insertNotMatched = false)
    assert(s1.matched === 1L)
    val c03 = t.read(spark).filter(col("conv_id") === "conv03")
    assert(c03.count() === 18L) // 20 original - 2 purged, update is in-place
    assert(c03.filter(col("turn_idx").isin(0, 1)).count() === 0L,
      "MERGE resurrected MOR-deleted rows")
    assert(c03.filter(col("turn_idx") === 2).select("ts").head()
      .getTimestamp(0) === tsAt(999L))
    // the touched file published vector-free (the rewrite folds the DV)
    assert(t.read(spark).count() === 158L)

    // (b) a purged-only key is NOT a match: WHEN NOT MATCHED must insert it
    val ins = Seq(("conv03", 0, tsAt(111L))).toDF("conv_id", "turn_idx", "ts")
    val s2 = t.merge(spark, ins, "dv-merge-ins", Some(MergeUpdateAll),
      insertNotMatched = true)
    assert(s2 === MergeStats(0L, 1L, s2.insertEpoch), s2.toString)
    assert(t.read(spark)
      .filter(col("conv_id") === "conv03" && col("turn_idx") === 0)
      .count() === 1L)

    // (c) DELETE full-drop is survivor-exact: vector 2 rows of a fresh
    // conv, then tombstone exactly the SURVIVORS — the file must drop,
    // losing no live rows elsewhere
    val t2 = buildTable("dv-merge-drop")
    assert(t2.deleteWhereMor(spark,
      col("conv_id") === "conv05" && col("turn_idx").isin(0, 1),
      "purge conv05 turns 0-1") === 2L)
    val survivors = t2.read(spark)
      .filter(col("conv_id") === "conv05" && col("turn_idx") < 10)
      .select("conv_id", "turn_idx", "ts")
    val total = t2.read(spark).count()
    val s3 = t2.merge(spark, survivors, "dv-merge-drop",
      Some(MergeDeleteMatched), insertNotMatched = false)
    assert(s3.matched === 8L)
    assert(t2.read(spark).count() === total - 8L)
    assert(t2.read(spark)
      .filter(col("conv_id") === "conv05" && col("turn_idx") < 10)
      .count() === 0L)
  }

  test("filesForRange refuses DV'd entries loudly; readRange serves " +
      "survivors; broadcast cap off still reads exactly") {
    val t = buildTable("dv-range")
    val lo = baseMicros
    val hi = baseMicros + 2L * 3600000000L + 7200000000L
    assert(t.filesForRange(lo, hi).nonEmpty) // pre-delete: fine
    t.deleteWhereMor(spark,
      col("conv_id") === "conv01" && col("turn_idx") === 0, "one row")
    val e = intercept[IllegalArgumentException](t.filesForRange(lo, hi))
    assert(e.getMessage.contains("deletion vectors"), e.getMessage)
    assert(e.getMessage.contains("readRange"), e.getMessage)
    assert(t.readRange(spark, lo, hi).count() === 159L)
    // dvRows recorded exactly; chained delete accumulates
    assert(t.effectiveFiles.flatMap(_.dvRows).sum === 1L)
    t.deleteWhereMor(spark,
      col("conv_id") === "conv01" && col("turn_idx") === 1, "one more")
    assert(t.effectiveFiles.flatMap(_.dvRows).sum === 2L)
    // with the broadcast cap at 0 the hint is withheld (planner's choice
    // from real sidecar sizes) — rows must be identical either way
    val hinted = t.read(spark).count()
    spark.conf.set("spark.sql.graft.dvBroadcastMaxRows", "0")
    try assert(t.read(spark).count() === hinted && hinted === 158L)
    finally spark.conf.unset("spark.sql.graft.dvBroadcastMaxRows")
  }
}
