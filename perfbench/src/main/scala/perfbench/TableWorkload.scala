package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.GenSpec

/** One client, closed loop: a script of SQL statements through
  * `GraftCatalog` + `GraftExtensions` on a catalog table loaded from the
  * transcripts corpus. The kinds follow a fixed rotation, so every seed runs
  * the same mix; the seed picks conversations, ranges and rows. Every read
  * is compared with an in-memory model of the script, and so is the final
  * table. */
final class TableWorkload(a: Args) extends Workload {
  private val spec = GenSpec(nConvs = a.int("n_convs"), seed = a.seed)
  private val compactEvery = a.int("compact_every_writes")
  /** r = read, w = write */
  private val rotation = a.section.get("rotation").asText()
  private val mergeRows = a.int("merge_batch_rows")
  private val warmStatements = a.int("warmup_statements")
  private val readKinds = Set("point", "range", "version", "files", "history")

  private final case class T(role: String, tool: String, text: String, tsMs: Long)
  private var corpus: Map[String, Map[Int, T]] = _
  private var corpusDir: String = _
  private var name: String = _
  /** conversation -> turn -> row: the table as the script has left it */
  private val model = mutable.HashMap.empty[String, mutable.HashMap[Int, T]]
  /** what `VERSION AS OF 0` must return per conversation: (rows, text chars) */
  private var epoch0: Map[String, (Long, Long)] = _
  private var commits = 0L
  private var writes = 0L
  private var reads = 0L
  private var stmtId = 0

  def layerSpec: GenSpec = spec

  private def inFirstEpoch(c: String): Boolean = c.stripPrefix("conv-").toInt < spec.nConvs / 2

  def prepare(spark: SparkSession): Unit = {
    val dir = a.root.resolve("inputs").resolve(Inputs.key("table", spec, 0))
    if (!java.nio.file.Files.exists(dir.resolve("_SUCCESS")))
      Inputs.corpus(spark, spec).write.mode("overwrite").parquet(dir.toString)
    corpusDir = dir.toString
    if (a.mode == "prepare") return
    corpus = spark.read.parquet(corpusDir).collect().toSeq.map { r =>
      (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"),
        T(r.getAs[String]("role"), r.getAs[String]("tool"), r.getAs[String]("text"),
          r.getAs[Timestamp]("ts").getTime))
    }.groupBy(_._1).map { case (c, rows) => c -> rows.map(x => x._2 -> x._3).toMap }
    epoch0 = corpus.filter(x => inFirstEpoch(x._1))
      .map { case (c, rows) => c -> (rows.size.toLong, rows.values.map(_.text.length.toLong).sum) }
  }

  def setUp(spark: SparkSession, r: RunResult): Unit = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    name = s"graft.db.t${System.nanoTime()}"
    spark.sql(
      s"""CREATE TABLE $name (conv_id STRING, turn_idx INT, role STRING, tool STRING,
         |  text STRING, ts TIMESTAMP) TBLPROPERTIES ('buckets'='${a.int("buckets")}')""".stripMargin)
    val src = spark.read.parquet(corpusDir)
      .select("conv_id", "turn_idx", "role", "tool", "text", "ts")
    val first = expr(s"cast(substr(conv_id, 6) as int) < ${spec.nConvs / 2}")
    src.filter(first).writeTo(name).option("epoch", "0").option("queryId", "load").append()
    src.filter(!first).writeTo(name).option("epoch", "1").option("queryId", "load").append()
    model.clear()
    corpus.foreach { case (c, rows) => model(c) = mutable.HashMap.from(rows) }
    commits = 2
    // 48 warm-up statements (the rotation r r r w makes 12 of them writes,
    // one a compact): with 16, median read latency split between runs near
    // 65 ms and runs near 82 ms
    val rnd = new scala.util.Random(Inputs.WarmSeed)
    (1 to warmStatements).foreach(_ => step(spark, rnd, r, None))
  }

  def measure(spark: SparkSession, seconds: Int, r: RunResult): Measure = {
    val rnd = new scala.util.Random(a.seed)
    val stmts = mutable.ArrayBuffer.empty[StatementRec]
    var failed = 0L
    val t0 = System.currentTimeMillis()
    val deadline = t0 + seconds * 1000L
    while (System.currentTimeMillis() < deadline) {
      if (!step(spark, rnd, r, Some(stmts))) failed += 1
    }
    // statements per second over exactly `seconds`: the statement still
    // running at the deadline counts with the share of it that fell before
    val done = stmts.map(s => if (s.endMs <= deadline) 1.0
      else math.max(0.0, (deadline - s.startMs).toDouble / math.max(1L, s.endMs - s.startMs))).sum
    val live = Harness.liveMb()

    // the final table against the model
    import spark.implicits._
    val cols = Seq("conv_id", "turn_idx", "role", "tool", "text")
    val want = Harness.digest(model.toSeq.flatMap { case (c, rows) =>
      rows.map { case (i, t) => (c, i, t.role, t.tool, t.text) }
    }.toDF(cols: _*), cols)
    val got = Harness.digest(spark.table(name), cols)
    r.check(got == want, s"table final digest $got != model $want")
    if (got != want) failed = stmts.size

    val ok = stmts.toSeq.filter(_.resultRows >= 0)
    def ms(ss: Seq[StatementRec]) = ss.map(s => (s.endMs - s.startMs).toDouble)
    val (reads, writes) = ok.partition(s => readKinds(s.kind))
    // the latency a SQL client waits on is a read's; writes show in the
    // statement rate, where they take most of the time
    Measure(t0, deadline, done / seconds, stmts.size, "statements", ms(reads), stmts.size, failed,
      Seq(live),
      statements = stmts.toSeq, turns = liveRows,
      tables = Seq(spark.conf.get("spark.sql.catalog.graft.warehouse") + "/" +
        name.stripPrefix("graft.").replace('.', '/')),
      extra = ok.groupBy(_.kind).map { case (k, ss) =>
        s"latency.$k" -> Figure(Harness.median(ms(ss)), "ms", ss.size)
      } ++ Map(
        "read_p50_ms" -> Figure(Harness.median(ms(reads)), "ms", reads.size),
        "write_p50_ms" -> Figure(Harness.median(ms(writes)), "ms", writes.size)))
  }

  private def alive(rnd: scala.util.Random): String =
    model.keysIterator.drop(rnd.nextInt(model.size)).next()
  private def anyConv(rnd: scala.util.Random): String = f"conv-${rnd.nextInt(spec.nConvs)}%06d"
  private def lit(s: String): String = "'" + s.replace("'", "''") + "'"
  private def liveRows: Long = model.valuesIterator.map(_.size.toLong).sum

  /** Runs the next statement of the script; false when it threw or
    * disagreed with the model. Statements are timed from submit to last row. */
  private def step(spark: SparkSession, rnd: scala.util.Random, r: RunResult,
                   out: Option[mutable.ArrayBuffer[StatementRec]]): Boolean = {
    stmtId += 1
    val id = stmtId
    def run(kind: String, sql: String)(checkRows: Array[Row] => Option[String]): Boolean = {
      spark.sparkContext.setJobGroup(s"stmt-$id", kind, interruptOnCancel = false)
      val t0 = System.currentTimeMillis()
      val res = try Right(spark.sql(sql).collect()) catch { case e: Throwable => Left(e.toString) }
      val t1 = System.currentTimeMillis()
      spark.sparkContext.clearJobGroup()
      val err = res.fold(Some(_), checkRows)
      err.foreach(e => r.check(false, s"table $kind statement failed: $sql: $e"))
      out.foreach(_ += StatementRec(id, kind, t0, t1,
        if (err.isEmpty) res.map(_.length.toLong).getOrElse(0L) else -1L))
      err.isEmpty
    }
    def expectEq[A](got: A, want: A): Option[String] =
      if (got == want) None else Some(s"got $got, model $want")

    if (rotation((id - 1) % rotation.length) == 'r') {
      reads += 1
      (reads - 1) % 5 match {
        case 0 =>
          val c = if (rnd.nextBoolean()) alive(rnd) else anyConv(rnd)
          val want = model.get(c).toSeq.flatMap(_.map { case (i, t) => (i, t.role, t.tool, t.text) }).toSet
          run("point", s"SELECT turn_idx, role, tool, text FROM $name WHERE conv_id = ${lit(c)}") { rows =>
            expectEq(rows.map(x => (x.getInt(0), x.getString(1), x.getString(2), x.getString(3))).toSet, want)
          }
        case 1 =>
          val lo = corpus(alive(rnd)).values.head.tsMs
          val hi = lo + 600000L
          val in = model.valuesIterator.flatMap(_.valuesIterator).filter(t => t.tsMs >= lo && t.tsMs < hi).toSeq
          val want = (in.size.toLong, in.map(_.text.length.toLong).sum)
          run("range", s"SELECT count(*), coalesce(sum(length(text)), 0) FROM $name " +
            s"WHERE ts >= timestamp_millis($lo) AND ts < timestamp_millis($hi)") { rows =>
            expectEq((rows(0).getLong(0), rows(0).getLong(1)), want)
          }
        case 2 =>
          val c = f"conv-${rnd.nextInt(math.max(1, spec.nConvs / 2))}%06d"
          run("version", s"SELECT count(*), coalesce(sum(length(text)), 0) FROM $name VERSION AS OF 0 " +
            s"WHERE conv_id = ${lit(c)}") { rows =>
            expectEq((rows(0).getLong(0), rows(0).getLong(1)), epoch0.getOrElse(c, (0L, 0L)))
          }
        case 3 =>
          // merge-on-read deletes leave rows in files until compaction, so
          // the listing holds at least the live rows
          run("files", s"SELECT count(*), coalesce(sum(row_count), 0) FROM $name.files") { rows =>
            if (rows(0).getLong(0) > 0 && rows(0).getLong(1) >= liveRows) None
            else Some(s"files ${rows(0)} vs $liveRows live rows")
          }
        case _ =>
          run("history", s"SELECT count(*) FROM $name.history") { rows =>
            expectEq(rows(0).getLong(0), commits)
          }
      }
    } else {
      writes += 1
      if (writes % compactEvery == 0) {
        commits += 1
        run("compact", s"CALL graft.system.compact('${name.stripPrefix("graft.")}')")(_ => None)
      } else writes % 4 match {
        case 1 | 3 =>
          val c = alive(rnd)
          val mode = if (writes % 4 == 1) "cow" else "mor"
          spark.conf.set("spark.sql.graft.deleteMode", mode)
          commits += 1
          model.remove(c)
          run(s"delete_$mode", s"DELETE FROM $name WHERE conv_id = ${lit(c)}")(_ => None)
        case 2 =>
          val c = alive(rnd)
          commits += 1
          model(c).mapValuesInPlace((_, t) => t.copy(role = "system", tool = "edited"))
          run("update", s"UPDATE $name SET role = 'system', tool = 'edited' WHERE conv_id = ${lit(c)}")(_ => None)
        case _ =>
          commits += 2 // a merge commits its matched rows and its inserts apart
          val existing = (1 to mergeRows / 2).map { _ =>
            val c = alive(rnd)
            c -> model(c).keysIterator.drop(rnd.nextInt(model(c).size)).next()
          }.distinct
          val c = anyConv(rnd)
          val fresh = (0 until mergeRows - existing.size).map(j => (c, 100000 + id * 16 + j))
          val ts = corpus.valuesIterator.next().values.head.tsMs
          val rows = (existing ++ fresh).map { case (cid, i) =>
            (cid, i, "user", "merge", s"corrected $id $cid $i", new Timestamp(ts))
          }
          rows.foreach { case (cid, i, role, tool, text, t) =>
            val conv = model.getOrElseUpdate(cid, mutable.HashMap.empty)
            conv(i) = conv.get(i).map(_.copy(text = text)).getOrElse(T(role, tool, text, t.getTime))
          }
          import spark.implicits._
          rows.toDF("conv_id", "turn_idx", "role", "tool", "text", "ts").createOrReplaceTempView("corrections")
          run("merge",
            s"""MERGE INTO $name t USING corrections s
               |ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
               |WHEN MATCHED THEN UPDATE SET text = s.text
               |WHEN NOT MATCHED THEN INSERT (conv_id, turn_idx, role, tool, text, ts)
               |  VALUES (s.conv_id, s.turn_idx, s.role, s.tool, s.text, s.ts)""".stripMargin)(_ => None)
      }
    }
  }
}
