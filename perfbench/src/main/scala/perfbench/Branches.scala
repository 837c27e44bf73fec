package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.core.{RedactionParams, Turn}
import graft.gen.GenSpec
import graft.stream.Pipeline
import graft.table.IcebergLite

/** The four stream branches reading one source directory at once, each
  * committing to its own table: redaction, window stats, call/response
  * join and dead letters. */
object Branches {
  val QueryNames: Seq[(String, String)] = Seq(
    "redact" -> "redaction-to-table", "window" -> "window-to-table",
    "join" -> "join-to-table", "deadletter" -> "dead-letter-to-table")

  final case class Running(queries: Seq[(String, StreamingQuery)], tables: Map[String, String])

  private def toTable(ds: DataFrame, name: String, table: IcebergLite, cp: Path,
                      trigger: Trigger): StreamingQuery =
    ds.writeStream.queryName(name).outputMode(OutputMode.Append())
      .option("checkpointLocation", cp.toString)
      .trigger(trigger)
      .foreachBatch { (df: Dataset[Row], epochId: Long) =>
        table.commitEpoch(df, name, epochId, 4); ()
      }.start()

  def start(spark: SparkSession, src: Path, base: Path, buckets: Int, trigger: Trigger,
            maxFilesPerTrigger: Int): Running = {
    import spark.implicits._
    val tables = QueryNames.map { case (b, _) => b -> base.resolve(s"t-$b").toString }.toMap
    val cps = QueryNames.map { case (b, _) => b -> base.resolve(s"cp-$b") }.toMap
    def source: Dataset[Turn] = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Turn]].schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(src.toString).as[Turn]
    val window = new IcebergLite(tables("window"))
    window.create("window_start string, role string, tool string, turn_count bigint, " +
      "char_sum bigint, approx_convs bigint", 4)
    val join = new IcebergLite(tables("join"))
    join.create("conv_id string, call_turn_idx int, tool string, resp_turn_idx int, " +
      "call_ts timestamp, resp_ts timestamp", 4)
    Running(Seq(
      "redact" -> Pipeline.runRedactionToTable(spark, src.toString, tables("redact"),
        cps("redact").toString, RedactionParams(), numBuckets = buckets,
        maxFilesPerTrigger = maxFilesPerTrigger, trigger = trigger),
      "window" -> toTable(Pipeline.windowStatsStream(source), "window-to-table", window,
        cps("window"), trigger),
      "join" -> toTable(Pipeline.joinPairsStream(source), "join-to-table", join,
        cps("join"), trigger),
      "deadletter" -> Pipeline.runDeadLetterToTable(spark, src.toString, tables("deadletter"),
        cps("deadletter").toString, trigger = trigger)), tables)
  }

  /** Compares every branch table with its reference; true when all agree. */
  def check(spark: SparkSession, run: Running, spec: GenSpec, root: Path, key: String,
            expected: Inputs.Digests, r: RunResult, what: String): Boolean = {
    def read(b: String) = new IcebergLite(run.tables(b)).read(spark)
    val cols = Map("window" -> ("window", Inputs.WindowCols),
      "join" -> ("join", Inputs.JoinCols), "deadletter" -> ("deadletter", Inputs.DeadCols))
    QueryNames.map(_._1).map {
      case "redact" => Inputs.checkRedaction(spark, root, key, read("redact"), spec, expected, r, what)
      case b =>
        val (key, cs) = cols(b)
        val got = Harness.digest(read(b), cs)
        r.check(got == expected(key), s"$what $key table digest $got != reference ${expected(key)}")
        got == expected(key)
    }.forall(identity)
  }
}
