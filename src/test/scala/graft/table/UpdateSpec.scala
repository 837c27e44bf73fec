package graft.table

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Row-level UPDATE ([[IcebergLite.updateWhere]] and the SQL surface via
  * [[graft.catalog.GraftExtensions]]): copy-on-write rewrites that keep
  * matched rows with assignments applied, original-value SET semantics,
  * structural-column guards, recomputed stats, stream patching, and the
  * `UPDATE graft.db.t SET ... WHERE ...` end-to-end path. */
class UpdateSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1767225600L * 1000000L // micros

  /** 3 epochs × 8 convs × 5 turns, bucketed by conv over 4 buckets. */
  private def buildTable(): (String, IcebergLite) = {
    val root = tmpDir("upd-table")
    val t = new IcebergLite(root)
    t.create(
      "conv_id string, turn_idx int, role string, tool string, ts timestamp", 4)
    (0L until 3L).foreach { ep =>
      val rows = for (c <- 0 until 8; i <- 0 until 5) yield
        (s"conv$c", i, if (i % 2 == 0) "user" else "tool",
          if (i % 2 == 1) "search" else null,
          new java.sql.Timestamp(
            (base + ep * 3600L * 1000000L + c * 1000000L + i) / 1000L))
      assert(t.commitEpoch(
        rows.toDF("conv_id", "turn_idx", "role", "tool", "ts"), "w", ep, 4))
    }
    (root, t)
  }

  test("updateWhere rewrites only matched files in place: bucket-scoped, " +
    "row order and counts preserved, untouched files keep their paths") {
    val (root, t) = buildTable()
    val before = t.effectiveFiles.map(_.path).toSet
    val expect = t.read(spark)
      .select(col("conv_id"), col("turn_idx"),
        when(col("conv_id") === "conv3" && col("turn_idx") === 1, "assistant")
          .otherwise(col("role")).as("role"))
      .collect().toSet

    val updated = t.updateWhere(spark,
      col("conv_id") === "conv3" && col("turn_idx") === 1,
      Seq("role" -> lit("assistant")), "fix conv3 turn1 role")
    assert(updated === 3L) // one row per epoch

    val after = t.effectiveFiles.map(_.path).toSet
    assert((before -- after).size === 3, s"rewritten: ${before -- after}")
    assert((after -- before).forall(_.contains("part-d")), after -- before)
    assert(after.intersect(before).size === before.size - 3)
    // row counts unchanged — update never drops rows
    assert(t.effectiveFiles.map(_.rowCount).sum === 120L)
    assert(t.read(spark).select("conv_id", "turn_idx", "role")
      .collect().toSet === expect)

    // per-file row ORDER preserved: each rewritten file is its original
    // (still on disk — copy-on-write) with only the assignment applied
    val d = t.deletes.head
    val removedByEpoch = d.removes.map { p =>
      val m = "part-(\\d+)-".r.findFirstMatchIn(p).get
      m.group(1).toLong -> p
    }.toMap
    d.fileSets.foreach { fs =>
      val orig = removedByEpoch(fs.sourceEpoch)
      fs.files.foreach { f =>
        val origRows = spark.read.parquet(s"$root/$orig")
          .select("conv_id", "turn_idx", "role").collect().toSeq
        val newRows = spark.read.parquet(s"$root/${f.path}")
          .select("conv_id", "turn_idx", "role").collect().toSeq
        val expected = origRows.map {
          case Row(c: String, i: Int, r: String) =>
            Row(c, i, if (c == "conv3" && i == 1) "assistant" else r)
        }
        assert(newRows === expected)
      }
    }
  }

  test("SET semantics: every assignment RHS sees ORIGINAL values — " +
    "role = tool, tool = role swaps") {
    val (_, t) = buildTable()
    val updated = t.updateWhere(spark, col("turn_idx") === 1,
      Seq("role" -> col("tool"), "tool" -> col("role")), "swap")
    assert(updated === 24L) // 8 convs x 3 epochs
    val got = t.read(spark).filter(col("turn_idx") === 1)
      .select("role", "tool").distinct().collect().toSet
    assert(got === Set(Row("search", "tool")))
  }

  test("assignment values are cast to the declared column type; NULL " +
    "conditions never match (WHERE tool = ... skips null-tool rows)") {
    val (_, t) = buildTable()
    // int literal into a string column; condition references a nullable col
    val updated = t.updateWhere(spark, col("tool") === "search",
      Seq("tool" -> lit(42)), "cast")
    assert(updated === 48L) // odd turns only
    val tools = t.read(spark).select("tool").distinct().collect()
      .map(_.getString(0)).toSet
    assert(tools === Set("42", null))
  }

  test("under spark.sql.files.maxRecordsPerFile=1 an update loses no " +
    "row: each rewrite and CDC partition is claimed as exactly one file") {
    val (root, t) = buildTable()
    val key = "spark.sql.files.maxRecordsPerFile"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    val updated =
      try t.updateWhere(spark, col("conv_id") === "conv3",
        Seq("role" -> lit("fixed")), "roll")
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(updated === 15L) // 5 turns x 3 epochs
    assert(t.effectiveFiles.map(_.rowCount).sum === 120L)
    assert(t.read(spark).count() === 120L)
    assert(t.read(spark).filter(col("role") === "fixed").count() === 15L)
    // pre + post image of every updated row is on disk
    val cdc = t.deletes.head.changeFiles.get
    assert(spark.read.parquet(cdc.map(f => s"$root/${f.path}"): _*).count() === 30L)
  }

  test("structural and unknown columns are rejected loudly") {
    val (_, t) = buildTable()
    val e1 = intercept[IllegalArgumentException] {
      t.updateWhere(spark, lit(true), Seq("conv_id" -> lit("x")), "bad")
    }
    assert(e1.getMessage.contains("structural column 'conv_id'"))
    val e2 = intercept[IllegalArgumentException] {
      t.updateWhere(spark, lit(true), Seq("turn_idx" -> lit(0)), "bad")
    }
    assert(e2.getMessage.contains("structural column 'turn_idx'"))
    val e3 = intercept[IllegalArgumentException] {
      t.updateWhere(spark, lit(true), Seq("epoch_id" -> lit(9L)), "bad")
    }
    assert(e3.getMessage.contains("not in the declared schema"))
    val e4 = intercept[IllegalArgumentException] {
      t.updateWhere(spark, lit(true),
        Seq("role" -> lit("a"), "role" -> lit("b")), "bad")
    }
    assert(e4.getMessage.contains("duplicate"))
    intercept[IllegalArgumentException] {
      t.updateWhere(spark, lit(true), Nil, "bad")
    }
  }

  test("updating ts recomputes per-file stats so manifest range pruning " +
    "stays exact") {
    val (_, t) = buildTable()
    // push conv6's epoch-0 rows far into the future
    val shift = 100L * 3600L * 1000000L
    t.updateWhere(spark,
      col("conv_id") === "conv6" && col("ts") < new java.sql.Timestamp(
        (base + 3600L * 1000000L) / 1000L),
      Seq("ts" -> (col("ts") + expr("INTERVAL 100 HOURS"))), "shift")
    val d = t.deletes.head
    val rewritten = d.fileSets.flatMap(_.files)
    assert(rewritten.nonEmpty)
    rewritten.foreach { f =>
      // manifest stats must cover the shifted rows
      assert(f.maxTsMicros >= base + shift)
    }
    // range read over the future window finds exactly the shifted rows
    val got = t.readRange(spark, base + shift, Long.MaxValue)
      .select("conv_id").distinct().collect().map(_.getString(0)).toSet
    assert(got === Set("conv6"))
  }

  test("a fresh incremental stream after an update serves the patched " +
    "epoch deltas — stale text cannot replay into a consumer") {
    val (root, t) = buildTable()
    t.updateWhere(spark, col("conv_id") === "conv5",
      Seq("role" -> lit("patched")), "patch conv5")
    val seen = scala.collection.mutable.ListBuffer.empty[(Long, Set[String], Long)]
    val q = spark.readStream.format("graft.sources.IcebergLiteSource")
      .option("path", root).option("maxEpochsPerTrigger", "1").load()
      .writeStream.option("checkpointLocation", tmpDir("upd-cp"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val roles = df.filter(col("conv_id") === "conv5")
          .select("role").distinct().collect().map(_.getString(0)).toSet
        seen.synchronized { seen += ((id, roles, df.count())); () }
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val batches = seen.sortBy(_._1).filter(_._3 > 0)
    assert(batches.size === 3)
    assert(batches.forall(_._2 === Set("patched")), batches)
    assert(batches.map(_._3).sum === 120L) // updates never drop rows
  }

  test("compaction folds update manifests; time travel to a pre-update " +
    "epoch serves the original rows") {
    val (_, t) = buildTable()
    t.updateWhere(spark, col("conv_id") === "conv0",
      Seq("role" -> lit("fixed")), "fix conv0")
    // history intact, live view updated
    assert(t.readAsOf(spark, 1L).filter(col("conv_id") === "conv0")
      .filter(col("role") === "fixed").count() === 0L)
    val expect = t.read(spark).select("conv_id", "turn_idx", "role")
      .collect().toSet
    t.compact(spark, 2)
    assert(t.compactions.maxBy(_.gen).foldsDeletes === Seq(1L))
    assert(t.effectiveFiles.map(_.rowCount).sum === 120L)
    assert(t.read(spark).select("conv_id", "turn_idx", "role")
      .collect().toSet === expect)
  }

  test("SQL UPDATE ... SET ... WHERE through GraftExtensions: engine " +
    "rewrite, original-value semantics, pruning filters, guard rails") {
    val warehouse = tmpDir("upd-warehouse")
    val s2 = graft.catalog.GraftSessions.withExtensions(warehouse)
    s2.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    s2.sql(
      """CREATE TABLE graft.db.upd (
        |  conv_id STRING, turn_idx INT, role STRING, tool STRING,
        |  ts TIMESTAMP) TBLPROPERTIES ('buckets'='4')""".stripMargin)
    val rows = for (c <- 0 until 8; i <- 0 until 5) yield
      (s"conv$c", i, if (i % 2 == 0) "user" else "tool",
        if (i % 2 == 1) "search" else null,
        new java.sql.Timestamp((base + c * 1000000L + i) / 1000L))
    locally {
      import s2.implicits._
      rows.toDF("conv_id", "turn_idx", "role", "tool", "ts")
        .writeTo("graft.db.upd").append()
    }

    s2.sql(
      """UPDATE graft.db.upd
        |SET role = concat(role, '-v2'), tool = upper(coalesce(tool, 'none'))
        |WHERE conv_id = 'conv2' AND turn_idx >= 3""".stripMargin)

    val got = s2.table("graft.db.upd").filter(col("conv_id") === "conv2")
      .orderBy("turn_idx").select("role", "tool")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got === Seq(("user", null), ("tool", "search"), ("user", null),
      ("tool-v2", "SEARCH"), ("user-v2", "NONE")))
    // other convs untouched
    assert(s2.table("graft.db.upd").filter(col("role").endsWith("-v2"))
      .select("conv_id").distinct().collect().map(_.getString(0)).toSeq
      === Seq("conv2"))

    // the engine path ran (delete-gen manifest, not a table rewrite)
    val lite = new IcebergLite(s"$warehouse/db/upd")
    assert(lite.deletes.size === 1)
    assert(lite.effectiveFiles.map(_.rowCount).sum === 40L)

    // the same extension-built session resolves the native SQL functions
    assert(s2.sql("SELECT graft_shingles('a b c d e f', 5)").head()
      .getSeq[String](0).size === 2)

    // time-travel views refuse UPDATE (the parser already rejects the
    // syntax; the rule's asOfEpoch guard covers programmatic relations)
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      s2.sql("UPDATE graft.db.upd VERSION AS OF 0 SET role = 'x'")
    }
    // structural column guard surfaces through SQL too
    val e2 = intercept[IllegalArgumentException] {
      s2.sql("UPDATE graft.db.upd SET conv_id = 'x' WHERE turn_idx = 0")
    }
    assert(e2.getMessage.contains("structural column"))
    // subqueries rejected loudly
    val e3 = intercept[UnsupportedOperationException] {
      s2.sql("UPDATE graft.db.upd SET role = 'x' WHERE conv_id IN " +
        "(SELECT conv_id FROM graft.db.upd WHERE turn_idx = 4)")
    }
    assert(e3.getMessage.contains("subqueries"))
  }

  test("property: updateWhere == the relational CASE WHEN projection, " +
    "row counts preserved, for random tables, conditions and assignments") {
    import org.scalacheck.Gen
    val genRows = for {
      nConv <- Gen.choose(1, 5)
      nTurn <- Gen.choose(1, 6)
      roles <- Gen.listOfN(nConv * nTurn, Gen.oneOf("user", "tool", "sys"))
      tools <- Gen.listOfN(nConv * nTurn,
        Gen.oneOf("search", "calc", null: String))
    } yield (for (c <- 0 until nConv; i <- 0 until nTurn) yield {
      val k = c * nTurn + i
      (s"conv$c", i, roles(k), tools(k),
        new java.sql.Timestamp((base + c * 1000000L + i) / 1000L))
    }).toSeq
    val genCond = Gen.oneOf[org.apache.spark.sql.Column](
      col("role") === "tool",
      col("tool").isNull,
      col("turn_idx") < 3,
      col("role") === "user" && col("turn_idx") >= 1,
      col("tool") === "search" || col("role") === "sys")
    val genAssign = Gen.oneOf[Seq[(String, org.apache.spark.sql.Column)]](
      Seq("role" -> lit("X")),
      Seq("tool" -> concat(col("role"), lit("!"))),
      Seq("role" -> col("tool"), "tool" -> col("role")),
      Seq("ts" -> (col("ts") + expr("INTERVAL 1 HOUR")), "role" -> lit("t")))

    new graft.PropHelpers {}.forAllSeeded2(
      Gen.zip(genRows, genCond), genAssign, n = 6) { case ((rows, cond), as) =>
      val root = tmpDir("upd-prop")
      val t = new IcebergLite(root)
      t.create(
        "conv_id string, turn_idx int, role string, tool string, ts timestamp", 2)
      assert(t.commitEpoch(
        rows.toDF("conv_id", "turn_idx", "role", "tool", "ts"), "w", 0L, 2))
      val hit = coalesce(cond, lit(false))
      val asMap = as.toMap
      val expect = t.read(spark).select(
        Seq("conv_id", "turn_idx", "role", "tool", "ts").map { c =>
          asMap.get(c).map(v => when(hit, v.cast(
            t.read(spark).schema(c).dataType)).otherwise(col(c)).as(c))
            .getOrElse(col(c))
        }: _*).collect().toSet

      t.updateWhere(spark, cond, as, "prop")
      val got = t.read(spark)
        .select("conv_id", "turn_idx", "role", "tool", "ts").collect().toSet
      assert(got === expect, s"cond=$cond as=$as")
      assert(t.effectiveFiles.map(_.rowCount).sum === rows.size.toLong)
    }
  }

  test("catalyst→V1 prune-filter translation (GraftInternals bridge) " +
    "feeds PrunePredicate: conv sets, ts bounds, untranslatable conjuncts " +
    "only lose pruning") {
    import org.apache.spark.sql.GraftInternals.translateFilter
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo => CEq, In => CIn, LessThan => CLt, Literal}
    import org.apache.spark.sql.types.{StringType, TimestampType}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.sources.PrunePredicate

    val conv = AttributeReference("conv_id", StringType)()
    val ts = AttributeReference("ts", TimestampType)()
    val fs = Seq(
      CEq(conv, Literal(UTF8String.fromString("c1"), StringType)),
      CLt(ts, Literal(7L, TimestampType)),
      CIn(conv, Seq(Literal(UTF8String.fromString("a"), StringType),
        Literal(UTF8String.fromString("b"), StringType))),
      CEq(conv, conv) // non-literal RHS → not translatable
    ).map(translateFilter(_))
    assert(fs.take(3).forall(_.isDefined))
    assert(fs.last.isEmpty)
    // the translated values land in the forms PrunePredicate matches on
    val pred = PrunePredicate.from(
      fs.flatten.filter(PrunePredicate.prunable))
    assert(pred.convIdSets === Seq(Set("c1"), Set("a", "b")))
    assert(pred.tsIntervals === Some(Seq((Long.MinValue, 6L))))
  }
}
