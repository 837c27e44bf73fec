package graft.table

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.core.RedactionParams
import graft.gen.{GenSpec, StreamFixtures}
import graft.stream.Pipeline

/** Exactly-once / kill-resume (SURVEY.md §5.2.4, mandated by the north
  * rule): killing the query in the staged-but-uncommitted window — the
  * reference's copy-failure point (watermark_processor.py:188-195) — and
  * restarting from the checkpoint must reproduce a byte-identical table. */
class KillResumeSpec extends SparkSpec {
  val spec: GenSpec = GenSpec(nConvs = 30)
  val p: RedactionParams = RedactionParams()

  private def sha256(path: java.nio.file.Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.digest(Files.readAllBytes(path)).map("%02x".format(_)).mkString
  }

  private def dataFileHashes(root: String): Map[String, String] = {
    val d = Paths.get(root, "data")
    Files.list(d).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(f => f.getFileName.toString -> sha256(f)).toMap
  }

  private def runAll(sliceDir: String, tableRoot: String, cp: String): Unit = {
    val q = Pipeline.runRedactionToTable(spark, sliceDir, tableRoot, cp, p,
      numBuckets = 4, maxFilesPerTrigger = 1)
    q.awaitTermination()
  }

  test("kill in the staged-but-uncommitted window, resume, byte-identical") {
    val sliceDir = tmpDir("slices-kr")
    StreamFixtures.writeSlices(spark, spec, sliceDir, k = 6)

    // Reference run: uninterrupted
    val rootA = tmpDir("tableA"); val cpA = tmpDir("cpA")
    runAll(sliceDir, rootA, cpA)
    val hashesA = dataFileHashes(rootA)
    assert(hashesA.nonEmpty)

    // Interrupted run: process everything, then force the crash window on
    // the last committed epoch — data files published, snapshot missing,
    // Spark's commit log entry missing → the epoch WILL be replayed.
    val rootB = tmpDir("tableB"); val cpB = tmpDir("cpB")
    runAll(sliceDir, rootB, cpB)
    val tableB = new IcebergLite(rootB)
    val lastEpoch = tableB.snapshots.map(_.epochId).max
    // simulate: snapshot never written (stage happened, commit didn't)
    Files.delete(Paths.get(rootB, "metadata", f"snap-$lastEpoch%012d.json"))
    // and Spark died before writing its commit log for that batch
    // (delete the Hadoop ChecksumFileSystem .crc sidecar too — a real crash
    // leaves neither, and a stale sidecar makes the replay's rename fail)
    Files.delete(Paths.get(cpB, "commits", lastEpoch.toString))
    Files.deleteIfExists(Paths.get(cpB, "commits", s".$lastEpoch.crc"))
    assert(!tableB.isCommitted(lastEpoch))

    // resume from checkpoint: the batch replays, the commit is idempotent
    runAll(sliceDir, rootB, cpB)
    assert(tableB.isCommitted(lastEpoch))

    val hashesB = dataFileHashes(rootB)
    assert(hashesB.keySet === hashesA.keySet, "file sets differ")
    hashesA.foreach { case (name, h) =>
      assert(hashesB(name) === h, s"byte mismatch in $name after replay")
    }

    // row-level: tables equal
    val a = tableB.read(spark).count()
    val b = new IcebergLite(rootA).read(spark).count()
    assert(a === b)
  }

  test("kill/resume over a 6-slice corpus: the replay is byte-identical " +
      "and the table equals an uninterrupted run's, full rows") {
    val sliceDir = tmpDir("slices-krn")
    StreamFixtures.writeSlices(spark, spec, sliceDir, k = 6)

    val rootA = tmpDir("tableNA"); val cpA = tmpDir("cpNA")
    runAll(sliceDir, rootA, cpA)
    val hashesA = dataFileHashes(rootA)
    assert(hashesA.nonEmpty)

    // crash window: files claimed into data/, snapshot missing, Spark
    // commit log entry missing → the batch replays through the native
    // writer's task-staging + first-writer-wins claim
    val rootB = tmpDir("tableNB"); val cpB = tmpDir("cpNB")
    runAll(sliceDir, rootB, cpB)
    val tableB = new IcebergLite(rootB)
    val lastEpoch = tableB.snapshots.map(_.epochId).max
    Files.delete(Paths.get(rootB, "metadata", f"snap-$lastEpoch%012d.json"))
    Files.delete(Paths.get(cpB, "commits", lastEpoch.toString))
    Files.deleteIfExists(Paths.get(cpB, "commits", s".$lastEpoch.crc"))
    assert(!tableB.isCommitted(lastEpoch))
    runAll(sliceDir, rootB, cpB)
    assert(tableB.isCommitted(lastEpoch))
    val hashesB = dataFileHashes(rootB)
    assert(hashesB === hashesA, "native replay must be byte-identical")

    // content parity with a third, uninterrupted run on the same corpus
    // (full rows, lineage included)
    val rootF = tmpDir("tableNF"); val cpF = tmpDir("cpNF")
    runAll(sliceDir, rootF, cpF)
    val resumed = tableB.read(spark).collect().map(_.toString).toSet
    val fresh = new IcebergLite(rootF).read(spark).collect().map(_.toString).toSet
    assert(resumed === fresh)
  }

  test("restore enforces StateFormatVersion: v1 and pre-stamp checkpoints " +
    "fail with the migration message, matching stamps resume cleanly") {
    val sliceDir = tmpDir("slices-sf")
    StreamFixtures.writeSlices(spark, spec, sliceDir, k = 2)
    val root = tmpDir("tableSF"); val cp = tmpDir("cpSF")
    runAll(sliceDir, root, cp) // fresh run stamps the checkpoint
    val stamp = Paths.get(cp, "graft-state-format.json")
    assert(new String(Files.readAllBytes(stamp), "UTF-8")
      .contains(s""""stateFormatVersion":${Pipeline.StateFormatVersion}"""))

    // matching stamp: restart is clean (idempotent no-new-data drain)
    runAll(sliceDir, root, cp)

    // simulated v1 checkpoint: loud engine message, not Spark's encoder error
    Files.write(stamp, """{"stateFormatVersion":1}""".getBytes("UTF-8"))
    val e1 = intercept[IllegalStateException] { runAll(sliceDir, root, cp) }
    assert(e1.getMessage.contains("state format v1") &&
      e1.getMessage.contains("FRESH checkpoint"), e1.getMessage)

    // pre-versioning checkpoint (Spark offsets present, no stamp at all)
    Files.delete(stamp)
    val e2 = intercept[IllegalStateException] { runAll(sliceDir, root, cp) }
    assert(e2.getMessage.contains("pre-versioning"), e2.getMessage)
  }

  test("staged-without-snapshot files are invisible to readers") {
    import spark.implicits._
    val root = tmpDir("tableC")
    val table = new IcebergLite(root)
    table.create("conv_id string, turn_idx int", 2)
    val df = Seq(("conv-1", 1, "t"), ("conv-2", 2, "t"))
      .toDF("conv_id", "turn_idx", "text")
    val files = table.stageAndPublish(df, 7L, 2)
    assert(files.map(_.rowCount).sum === 2)
    // crash here: no snapshot → reader sees nothing
    assert(table.read(spark).count() === 0L)
    assert(!table.isCommitted(7L))
    // retry commits the same epoch; reader now sees it exactly once
    assert(table.commitEpoch(df, "q", 7L, 2) === true)
    assert(table.read(spark).count() === 2L)
  }
}
