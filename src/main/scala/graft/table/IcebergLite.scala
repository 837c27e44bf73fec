package graft.table

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.{ArrayList => JArrayList, HashMap => JHashMap, List => JList, Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Minimal Iceberg-style table format, built from scratch (no Iceberg jar in
  * the sandbox — SURVEY.md §7.0): immutable parquet data files + a JSON
  * snapshot log with atomic, **idempotent** epoch commits.
  *
  * This is the scale-up of the reference's atomic save protocol
  * (/root/reference/mechanisms/watermark_processor.py:46-47,166-175):
  * write to a temp location, publish atomically, clean up — with the failure
  * contract of :188-195 (staged-but-unpublished output is invisible and
  * retryable). Exactly-once is achieved the standard way for
  * `foreachBatch` sinks: commits are keyed by `(queryId, epochId)`; a
  * replayed epoch finds its snapshot already present and becomes a no-op.
  *
  * Layout:
  * {{{
  *   root/
  *     metadata/table.json            // schema + partition spec (create-once)
  *     metadata/snap-<epoch>.json     // one per committed epoch: manifest of
  *                                    // data files + per-partition lineage
  *     data/part-<epoch>-<idx>.parquet
  *     _staging/ep-<epoch>/           // transient; never visible to readers
  * }}}
  *
  * Determinism: data files are named `part-<epoch>-<idx>` (no UUIDs, no wall
  * clock — fixing the reference's `int(time.time())` naming at :47), rows are
  * hash-partitioned by `conv_id` and sorted by `(conv_id, turn_idx)` within
  * each file, so replaying an epoch reproduces byte-identical files.
  *
  * At 10^12-turn scale: one snapshot JSON per epoch is the analogue of an
  * Iceberg manifest list; readers prune by the per-file min/max `ts` and
  * `conv_id` stats recorded in the manifest (data-file pruning — the
  * analogue of the reference's extension predicate at listing time, :235).
  */
final class IcebergLite(val root: String) {
  private val mapper = new ObjectMapper()

  /** Directory listing with the stream CLOSED (Files.list holds an open
    * directory handle until closed — a long-running stream lists metadata
    * every epoch, and leaked handles eventually exhaust the process FD
    * limit; GC finalization is not a bound). */
  private def listDir[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator().asScala) finally s.close()
  }
  private def metaDir = Paths.get(root, "metadata")
  private def dataDir = Paths.get(root, "data")
  private def changesDir = Paths.get(root, "changes")
  private def stagingDir(epochId: Long) = Paths.get(root, "_staging", s"ep-$epochId")
  private def snapPath(epochId: Long) = metaDir.resolve(f"snap-$epochId%012d.json")

  /** Create-if-absent (S6; mirrors os.makedirs + error contract at :223-232). */
  def create(schemaDdl: String, numBuckets: Int): Unit = synchronized {
    // `__graft_*` names are engine internals (row-order pins, bucket ids,
    // DV positions injected by MERGE/UPDATE/DELETE plans) — a declared
    // column with such a name would collide inside every mutation's plan
    val reserved = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
      .fieldNames.filter(_.startsWith("__graft"))
    require(reserved.isEmpty,
      s"column name(s) ${reserved.mkString(", ")} are reserved (the " +
        "__graft prefix names engine-internal plan columns)")
    Files.createDirectories(metaDir)
    Files.createDirectories(dataDir)
    val t = metaDir.resolve("table.json")
    if (!Files.exists(t)) {
      val m = new JHashMap[String, Object]()
      m.put("formatVersion", Integer.valueOf(1))
      m.put("schema", schemaDdl)
      m.put("partitionSpec", s"bucket(conv_id, $numBuckets)")
      atomicWrite(t, mapper.writeValueAsBytes(m))
    }
  }

  def isCommitted(epochId: Long): Boolean = Files.exists(snapPath(epochId))

  def exists: Boolean = Files.exists(metaDir.resolve("table.json"))

  /** Bucket count declared in table.json's partition spec
    * (`bucket(conv_id, N)`); None if the table does not exist. */
  def declaredNumBuckets: Option[Int] = {
    val t = metaDir.resolve("table.json")
    if (!Files.exists(t)) return None
    val spec = mapper.readTree(Files.readAllBytes(t)).get("partitionSpec").asText()
    "bucket\\(conv_id, (\\d+)\\)".r.findFirstMatchIn(spec).map(_.group(1).toInt)
  }

  /** Declared business schema (DDL string from table.json). Data files
    * additionally carry the sink's lineage columns
    * `(epoch_id bigint, partition_id int)` — see [[stageAndPublish]]. */
  def schemaDdl: String =
    mapper.readTree(Files.readAllBytes(metaDir.resolve("table.json")))
      .get("schema").asText()

  /** Schema version counter: 1 at [[create]], +1 per [[addColumn]]. */
  def schemaVersion: Int =
    Option(mapper.readTree(Files.readAllBytes(metaDir.resolve("table.json")))
      .get("schemaVersion")).map(_.asInt()).getOrElse(1)

  /** Declared schema DDL at `version` — time-travel reads serve the schema
    * their snapshot was committed under, so `VERSION AS OF` a pre-evolution
    * epoch does not grow phantom all-null columns. */
  def schemaDdlAt(version: Int): String = {
    val t = mapper.readTree(Files.readAllBytes(metaDir.resolve("table.json")))
    val cur = Option(t.get("schemaVersion")).map(_.asInt()).getOrElse(1)
    if (version == cur) t.get("schema").asText()
    else Option(t.get("schemas")).flatMap(s => Option(s.get(version.toString)))
      .map(_.asText())
      .getOrElse(throw new IllegalArgumentException(
        s"schema version $version of $root does not exist (current: $cur)"))
  }

  /** Schema version epoch `epoch` was committed under (1 for snapshots
    * predating version stamping; falls back to the current version for an
    * unknown epoch — scan planning validates the epoch itself, loudly). */
  def schemaVersionAt(epoch: Long): Int =
    snapshots.find(_.epochId == epoch).map(_.schemaVersion)
      .getOrElse(schemaVersion)

  /** Add-only schema evolution: append a nullable column to the declared
    * schema. Committed epochs stay immutable — data files written before
    * the change simply lack the column, and every read path serves it as
    * NULL via parquet by-name clipping against the declared schema (the
    * same mechanism real Iceberg uses for add-column). Drops / renames /
    * retypes are rejected at the catalog: they would reinterpret committed
    * bytes. The whole read-validate-bump runs under the cross-process
    * table.json lock so two concurrent evolutions cannot both claim the
    * same version (or silently drop one another's column).
    * Returns the new schema version. */
  def addColumn(name: String, ddlType: String): Int = {
    require(exists, s"IcebergLite table does not exist at $root")
    val dt = org.apache.spark.sql.types.DataType.fromDDL(ddlType)
    var newVersion = -1
    lockedTableJsonUpdate { t =>
      val curDdl = t.get("schema").asText()
      val cur = org.apache.spark.sql.types.StructType.fromDDL(curDdl)
      require(!cur.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"column '$name' already exists in $root (declared: ${cur.toDDL})")
      require(!Seq("epoch_id", "partition_id").exists(_.equalsIgnoreCase(name)),
        s"column name '$name' collides with a sink lineage column")
      require(!name.startsWith("__graft"),
        s"column name '$name' is reserved (the __graft prefix names " +
          "engine-internal plan columns)")
      val v = Option(t.get("schemaVersion")).map(_.asInt()).getOrElse(1)
      newVersion = v + 1
      val schemas =
        if (t.has("schemas"))
          t.get("schemas").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        else { val o = t.putObject("schemas"); o.put(v.toString, curDdl); o }
      val next = cur.add(name, dt, nullable = true)
      schemas.put(newVersion.toString, next.toDDL)
      t.put("schema", next.toDDL)
      t.put("schemaVersion", newVersion)
      true
    }
    newVersion
  }

  /** Physical schema of data files at schema `version`: declared business
    * columns + the sink lineage columns. Table reads pass it explicitly —
    * after an [[addColumn]] the effective files MIX schema versions, and
    * parquet inference would pick one file's schema at random (silently
    * dropping or failing on the evolved column); the declared schema makes
    * old files read the new column as NULL deterministically. */
  def fullReadSchemaAt(version: Int): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(schemaDdlAt(version))
      .add("epoch_id", org.apache.spark.sql.types.LongType)
      .add("partition_id", org.apache.spark.sql.types.IntegerType)

  def fullReadSchema: org.apache.spark.sql.types.StructType =
    fullReadSchemaAt(schemaVersion)

  /** Full idempotent commit: stage → publish files → write snapshot.
    * Returns false if the epoch was already committed (replay no-op).
    *
    * The commit key is `(queryId, epochId)`: a replay of the SAME query's
    * epoch is a silent no-op, but a DIFFERENT query (fresh checkpoint, batch
    * ids restarting at 0) writing to this table fails loudly instead of
    * silently dropping its data under an alien epoch id.
    *
    * `arranged = true` is a CORRECTNESS promise, not a layout hint: the
    * caller asserts every partition is conv_id-bucketed AND sorted
    * `(conv_id ASC NULLS FIRST, turn_idx ASC)` — the engine's own sink
    * verifies its plan before claiming it (`arrangedByPlan`). The scan's
    * `SupportsReportOrdering` report trusts this sort, so an unsorted
    * "arranged" commit yields WRONG window/sort-merge results on
    * key-grouped reads (not just an odd file layout). When in doubt pass
    * false and pay the sort, or disable the report per session with
    * `spark.sql.graft.reportOrdering=false`. */
  def commitEpoch(df: DataFrame, queryId: String, epochId: Long,
                  numBuckets: Int, arranged: Boolean = false): Boolean =
    withEpochLock(epochId) {
      if (isCommitted(epochId)) {
        requireNotPendingId(epochId)
        val stored = mapper.readTree(Files.readAllBytes(snapPath(epochId)))
          .get("queryId").asText()
        if (stored != queryId)
          throw new IllegalStateException(
            s"epoch $epochId of table $root already committed by query " +
              s"'$stored'; refusing idempotent no-op for different query " +
              s"'$queryId' (would silently drop its data)")
        return false
      }
      val files = stageAndPublish(df, epochId, numBuckets, arranged)
      writeSnapshot(queryId, epochId, files, numBuckets)
      true
    }

  /** Commit of an epoch whose data files were already STAGED by executor
    * tasks (the DSv2 [[graft.sources.EpochStreamingWrite]] path: Spark
    * clustered the rows by `conv_id` into `numBuckets` partitions and each
    * task wrote one file under `_staging/ep-<epoch>/`, so `staged`'s
    * partition ids ARE bucket ids). The driver side here touches only file
    * METADATA — claim into `data/` + footer stats + snapshot — under the
    * same per-table epoch lock, `(queryId, epochId)` idempotence and
    * first-writer-wins contract as [[commitEpoch]]; a replayed epoch drops
    * the replay's freshly staged bytes and no-ops. */
  def commitStagedEpoch(queryId: String, epochId: Long,
                        staged: Seq[(String, Int)],
                        numBuckets: Int): Boolean = withEpochLock(epochId) {
    if (isCommitted(epochId)) {
      requireNotPendingId(epochId)
      val stored = mapper.readTree(Files.readAllBytes(snapPath(epochId)))
        .get("queryId").asText()
      if (stored != queryId)
        throw new IllegalStateException(
          s"epoch $epochId of table $root already committed by query " +
            s"'$stored'; refusing idempotent no-op for different query " +
            s"'$queryId' (would silently drop its data)")
      deleteRecursively(stagingDir(epochId))
      return false
    }
    require(staged.map(_._2).distinct.size == staged.size,
      s"duplicate bucket ids in staged files of epoch $epochId: " +
        staged.map(_._2).mkString(",") +
        " — the commit coordinator must deliver one message per partition")
    Files.createDirectories(dataDir)
    val published = staged.sortBy(_._2).map { case (src, idx) =>
      val name = f"part-$epochId%06d-$idx%05d.parquet"
      val dst = dataDir.resolve(name)
      claimFrom(Paths.get(src), dst, committed = isCommitted(epochId))
      Files.deleteIfExists(Paths.get(src))
      (dst, idx, s"data/$name")
    }
    import scala.collection.parallel.CollectionConverters._
    val files = published.par.map { case (dst, idx, rel) =>
      footerStats(dst, epochId, idx, rel)
    }.toIndexedSeq.sortBy(_.partitionId)
    writeSnapshot(queryId, epochId, files, numBuckets)
    deleteRecursively(stagingDir(epochId))
    true
  }

  /** Abort of a streaming epoch attempt: sweep its staging directory. Safe
    * against a concurrent successful commit of the same epoch — committed
    * data lives in `data/`, never in staging. */
  def abortStagedEpoch(epochId: Long): Unit =
    deleteRecursively(stagingDir(epochId))

  // ---- write-audit-publish (staged epochs) ---------------------------------

  /** The next free epoch id — over ALL snapshot manifests, visible or
    * pending: a staged epoch (WAP or an in-flight merge insert) occupies
    * its id even though readers cannot see it, so allocating from the
    * committed view alone would collide and silently no-op the append. */
  def nextEpochId: Long =
    rawSnapshots.map(_._1.epochId).foldLeft(-1L)(math.max) + 1L

  /** The `(pendingGen, wapStaged)` stamps of an existing snapshot manifest. */
  private def pendingStamp(epochId: Long): (Option[Long], Boolean) = {
    val n = mapper.readTree(Files.readAllBytes(snapPath(epochId)))
    (Option(n.get("pendingGen")).map(_.asLong()),
      Option(n.get("wap")).exists(_.asBoolean()))
  }

  /** A plain epoch commit aimed at an id a STAGED (pending, invisible)
    * snapshot occupies must fail loudly: treating it as the idempotent
    * already-committed no-op would make the caller believe its rows are
    * visible when they are not. */
  private def requireNotPendingId(epochId: Long): Unit = {
    val (pending, wap) = pendingStamp(epochId)
    pending.filterNot(g => Files.exists(deletePath(g))).foreach { _ =>
      throw new IllegalStateException(
        s"epoch $epochId of $root is a staged, un-published snapshot (" +
          (if (wap) "WAP stage — publishStaged/discardStaged it"
           else "a merge's pending insert epoch — the merge owns its commit") +
          "); refusing to treat the append as already committed")
    }
  }

  /** Write-audit-publish STAGE: commit the epoch's data files and snapshot
    * exactly like [[commitEpoch]] (same deterministic layout, same
    * idempotent `(queryId, epochId)` contract), but stamped
    * `pendingGen = <reserved gen>` + `wap` — INVISIBLE to every reader
    * (batch, stream, time travel, CDC, gc, compaction) until
    * [[publishStaged]] activates it in one atomic manifest write, the same
    * two-file protocol [[merge]] uses for its insert epoch. Audit the
    * staged rows with [[readStaged]]; reject them with [[discardStaged]].
    *
    * The reserved gen keeps concurrent mutations safe ([[nextRewriteGen]]
    * allocates above every pending gen), and the `wap` stamp keeps
    * [[removeOrphans]] from treating a long-running audit as a crashed
    * merge — a WAP stage is reclaimed ONLY by explicit discard.
    *
    * Returns the reserved gen. Replaying the stage (same queryId + epoch)
    * is a no-op returning the original gen; a different query, or a plain
    * [[commitEpoch]] aimed at a staged id, fails loudly. */
  def stageEpoch(df: DataFrame, queryId: String, epochId: Long,
                 numBuckets: Int): Long = withMaintenanceLock {
    withEpochLock(epochId) {
      require(exists, s"IcebergLite table does not exist at $root")
      if (isCommitted(epochId)) {
        val stored = mapper.readTree(Files.readAllBytes(snapPath(epochId)))
          .get("queryId").asText()
        val (pending, wap) = pendingStamp(epochId)
        require(wap && pending.isDefined &&
            !pending.exists(g => Files.exists(deletePath(g))),
          s"epoch $epochId of $root already exists and is not an " +
            s"un-published WAP stage (query '$stored') — cannot re-stage it")
        require(stored == queryId,
          s"epoch $epochId of $root already staged by query '$stored'; " +
            s"refusing idempotent no-op for different query '$queryId'")
        return pending.get
      }
      val gen = nextRewriteGen()
      val files = stageAndPublish(df, epochId, numBuckets)
      writeSnapshot(queryId, epochId, files, numBuckets,
        pendingGen = Some(gen), wapStaged = true)
      gen
    }
  }

  /** Un-published WAP stages: `(snapshot, reserved gen)` in epoch order. */
  def stagedEpochs: Seq[(SnapshotMeta, Long)] =
    rawSnapshots.collect {
      case (s, Some(g)) if !Files.exists(deletePath(g)) &&
        pendingStamp(s.epochId)._2 => (s, g)
    }

  /** Audit read of a staged (invisible) epoch — the staged rows under the
    * schema they were written with, lineage columns included. */
  def readStaged(spark: SparkSession, epochId: Long): DataFrame = {
    val (s, _) = stagedEpochs.find(_._1.epochId == epochId).getOrElse(
      throw new IllegalArgumentException(
        s"epoch $epochId of $root is not an un-published WAP stage; " +
          s"staged: ${stagedEpochs.map(_._1.epochId).mkString("[", ", ", "]")}"))
    val files = s.files.map(f => s"$root/${f.path}")
    spark.read.schema(fullReadSchemaAt(s.schemaVersion)).parquet(files: _*)
  }

  /** Write-audit-publish PUBLISH: one atomic manifest write (an empty
    * rewrite manifest `delete-<gen>.json` carrying only `activatesEpoch`)
    * makes the staged epoch visible to every reader at once — exactly the
    * merge activation protocol, so streams replay it exactly-once as its
    * own epoch, CDC serves its rows as `insert` bounded by the activating
    * gen, and time travel stamps it correctly. Idempotent: re-publishing
    * returns the same gen. Fails loudly if a registered incremental
    * reader's offset already passed `epochId` (see
    * [[requireNoPassedReaders]]) — `force = true` overrides. */
  def publishStaged(epochId: Long, force: Boolean = false): Long = withMaintenanceLock {
    val all = rawSnapshots.collect {
      case (s, Some(g)) if s.epochId == epochId => (s, g)
    }
    require(all.nonEmpty,
      s"epoch $epochId of $root is not a staged snapshot; staged: " +
        s"${stagedEpochs.map(_._1.epochId).mkString("[", ", ", "]")}")
    val (s, gen) = all.head
    if (Files.exists(deletePath(gen))) return gen // already published
    require(pendingStamp(epochId)._2,
      s"epoch $epochId of $root is pending a MERGE activation, not a WAP " +
        "stage — the merge owns its commit; publishStaged refuses to " +
        "activate someone else's half-done atomic operation")
    branches.find(_._2 == gen).foreach { case (b, _) =>
      throw new IllegalStateException(
        s"epoch $epochId of $root is staged on branch '$b' — branch " +
          "epochs publish together: CALL graft.system.fast_forward, or " +
          "drop_branch to discard")
    }
    requireNoPassedReaders(epochId, force, s"publishing staged epoch $epochId")
    writeRewriteManifest(gen, s"PUBLISH staged epoch $epochId",
      removes = Nil, adds = Nil, affectsCompacted = false,
      activatesEpoch = Some(epochId), changeFiles = Nil,
      op = Some("publish"))
    gen
  }

  /** Write-audit-publish DISCARD: the audit rejected the staged rows —
    * drop the pending snapshot and its data files. Loud if the epoch was
    * already published (visible history is immutable; use [[restore]]).
    * Returns the deleted relative paths. */
  def discardStaged(epochId: Long): Seq[String] =
    discardStaged(epochId, allowBranchEpoch = false)

  /** `allowBranchEpoch` is the internal [[dropBranch]] path only: a single
    * branch epoch must not be discardable from outside — the "branch
    * epochs publish together" invariant holds on discard exactly as
    * [[publishStaged]] enforces it on publish. */
  private def discardStaged(epochId: Long,
                            allowBranchEpoch: Boolean): Seq[String] = withMaintenanceLock {
    val staged = stagedEpochs.find(_._1.epochId == epochId).getOrElse(
      throw new IllegalArgumentException(
        s"epoch $epochId of $root is not an un-published WAP stage " +
          "(already published, a merge's pending epoch, or never staged); " +
          s"staged: ${stagedEpochs.map(_._1.epochId).mkString("[", ", ", "]")}"))
    val (s, gen) = staged
    if (!allowBranchEpoch) branches.find(_._2 == gen).foreach { case (b, _) =>
      throw new IllegalStateException(
        s"epoch $epochId of $root is staged on branch '$b' — branch " +
          "epochs are discarded together: CALL graft.system.drop_branch")
    }
    val dataGone = s.files.flatMap { f =>
      val p = Paths.get(root, f.path)
      if (Files.deleteIfExists(p)) Some(f.path) else None
    }
    Files.deleteIfExists(snapPath(epochId))
    dataGone :+ f"metadata/snap-$epochId%012d.json"
  }

  /** Steps 1–2: write deterministic data files and move them into `data/`.
    * Publicly split from [[writeSnapshot]] so kill/resume tests can crash in
    * the staged-but-uncommitted window (the :188-195 failure point). */
  def stageAndPublish(df: DataFrame, epochId: Long, numBuckets: Int,
                      arranged: Boolean = false): Seq[DataFileMeta] = {
    val staging = stagingDir(epochId)
    deleteRecursively(staging)
    val spark = df.sparkSession
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // deterministic layout for ANY schema: bucket by conv_id and sort by
    // (conv_id, turn_idx) when present (the transcript tables), else fall
    // back to the full column list — replay must always reproduce
    // byte-identical files. `arranged = true` asserts the CALLER's plan
    // already carries exactly this clustering + ordering (the DSv2 write
    // path, where Spark applied the Write's RequiresDistributionAndOrdering
    // — see IcebergLiteTable.newWriteBuilder) so repeating it here would be
    // a second, redundant shuffle of every row.
    val cols = df.columns.toSeq
    val bucketCols = IcebergLite.bucketColsFor(cols)
    val sortCols = IcebergLite.sortColsFor(cols)
    IcebergLite.lastStageArranged = arranged
    val prepared =
      if (arranged) df
      else df.repartition(numBuckets, bucketCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    prepared
      .withColumn("epoch_id", lit(epochId)) // S9 lineage — deterministic,
      .withColumn("partition_id", spark_partition_id()) // unlike time.time()
      .write.mode("overwrite").parquet(staging.toString)

    val staged = listDir(staging)(_.filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString))
    Files.createDirectories(dataDir)
    val published = staged.zipWithIndex.map { case (src, fallbackIdx) =>
      // the TRUE shuffle-partition index from Spark's task file name
      // ("part-00007-<uuid>…"): with hash-bucketing by conv_id this IS the
      // bucket id, which is what makes manifest-level conv_id bucket
      // pruning sound even when some buckets are empty (a sorted-position
      // index would shift past the gap and point pruning at wrong files)
      val idx = IcebergLite.taskPartitionId(src.getFileName.toString)
        .getOrElse(fallbackIdx)
      val name = f"part-$epochId%06d-$idx%05d.parquet"
      val dst = dataDir.resolve(name)
      // first-writer-wins claim: a retried epoch reproduces identical
      // bytes (determinism) and no-ops; a crashed earlier attempt of this
      // UNCOMMITTED epoch (e.g. staged under a different bucket count) is
      // replaced; a non-identical writer racing a COMMITTED epoch fails
      // loudly instead of clobbering what its manifest describes
      claimFrom(src, dst, committed = isCommitted(epochId))
      Files.deleteIfExists(src)
      (dst, idx, s"data/$name")
    }
    // footer reads are independent — do them in parallel, the driver-side
    // serial loop was measurable at one-file-per-bucket epoch sizes
    import scala.collection.parallel.CollectionConverters._
    published.par.map { case (dst, idx, rel) =>
      footerStats(dst, epochId, idx, rel)
    }.toIndexedSeq.sortBy(_.partitionId)
  }

  /** Step 3: atomically publish the snapshot (manifest + lineage).
    * `numBuckets` records the conv_id hash-bucket count the files were
    * written with (−1 = unknown/unbucketed) — the connector uses it for
    * manifest-level conv_id-equality pruning.
    *
    * `pendingGen`: the two-file atomic-commit protocol behind [[merge]].
    * A snapshot stamped `pendingGen = g` is INVISIBLE to every reader
    * ([[snapshots]] filters it) until `delete-<g>.json` exists — writing
    * that one manifest atomically activates the insert epoch AND applies
    * the rewrite, so a merge's updates and inserts become visible
    * together or not at all. */
  def writeSnapshot(queryId: String, epochId: Long, files: Seq[DataFileMeta],
                    numBuckets: Int = -1,
                    pendingGen: Option[Long] = None,
                    wapStaged: Boolean = false): Unit = {
    val snap = new JHashMap[String, Object]()
    snap.put("queryId", queryId)
    snap.put("epochId", java.lang.Long.valueOf(epochId))
    snap.put("numBuckets", Integer.valueOf(numBuckets))
    pendingGen.foreach(g => snap.put("pendingGen", java.lang.Long.valueOf(g)))
    // distinguishes a write-audit-publish stage ([[stageEpoch]] — reclaimed
    // only by explicit discard) from a merge's pending insert epoch (dead
    // once a later gen commits without it — removeOrphans' no-clock rule)
    if (wapStaged) snap.put("wap", java.lang.Boolean.TRUE)
    // the mutation-gen high-water mark at commit time: epochs and
    // rewrite-gens are separate counters with no wall-clock between them
    // (replay determinism), so this stamp is what lets a CDC reader anchor
    // "the state when epoch e was fresh" — see TableChanges/currentVersion.
    // A merge's pending insert epoch only becomes VISIBLE with its
    // activating gen, so that gen is part of its as-of state.
    snap.put("maxGen", java.lang.Long.valueOf(
      pendingGen.fold(currentGen)(math.max(_, currentGen))))
    // schema version the epoch's files were written under — time travel
    // serves this version's schema (deterministic: part of the snapshot)
    snap.put("schemaVersion", Integer.valueOf(schemaVersion))
    val list: JList[Object] = new JArrayList[Object]()
    files.foreach(f => list.add(fileJson(f)))
    snap.put("files", list)
    atomicWrite(snapPath(epochId), mapper.writeValueAsBytes(snap))
  }

  /** Committed snapshots only: a merge-staged snapshot (`pendingGen = g`)
    * is served iff its activating `delete-<g>.json` landed — every reader
    * (effective view, streams, time travel, gc, expiry) routes through
    * here, so pending inserts are invisible everywhere until the merge's
    * single atomic manifest write. */
  def snapshots: Seq[SnapshotMeta] =
    rawSnapshots.collect {
      case (s, None) => s
      case (s, Some(g)) if Files.exists(deletePath(g)) => s
    }

  /** All snapshot manifests on disk, with their pending-activation gen —
    * the raw view [[merge]] (epoch allocation must not reuse a pending
    * epoch) and [[removeOrphans]] (dead-pending cleanup) need. */
  private[table] def rawSnapshots: Seq[(SnapshotMeta, Option[Long])] = {
    if (!Files.exists(metaDir)) return Nil
    listDir(metaDir)(_.filter(_.getFileName.toString.startsWith("snap-"))
      .toSeq.sortBy(_.getFileName.toString))
      .map { p =>
        val n = mapper.readTree(Files.readAllBytes(p))
        (SnapshotMeta(n.get("queryId").asText(), n.get("epochId").asLong(),
          parseFiles(n), parseBuckets(n),
          if (n.has("schemaVersion")) n.get("schemaVersion").asInt() else 1,
          if (n.has("maxGen")) n.get("maxGen").asLong() else 0L),
          Option(n.get("pendingGen")).map(_.asLong()))
      }
  }

  private def parseBuckets(n: com.fasterxml.jackson.databind.JsonNode): Int =
    if (n.has("numBuckets")) n.get("numBuckets").asInt() else -1

  /** Shared manifest JSON for one data file — snapshot, delete and
    * compaction manifests must agree on the fields or pruning would
    * silently diverge between read paths. */
  private def fileJson(f: DataFileMeta): JHashMap[String, Object] = {
    val m = new JHashMap[String, Object]()
    m.put("path", f.path)
    m.put("partitionId", Integer.valueOf(f.partitionId))
    m.put("rowCount", java.lang.Long.valueOf(f.rowCount))
    m.put("minTs", java.lang.Long.valueOf(f.minTsMicros))
    m.put("maxTs", java.lang.Long.valueOf(f.maxTsMicros))
    f.convIdMin.foreach(v => m.put("convMin", v))
    f.convIdMax.foreach(v => m.put("convMax", v))
    if (f.sizeBytes >= 0L) m.put("sizeBytes", java.lang.Long.valueOf(f.sizeBytes))
    f.convIdNulls.foreach(v => m.put("convNulls", java.lang.Long.valueOf(v)))
    f.dvPath.foreach(v => m.put("dv", v))
    f.dvRows.foreach(v => m.put("dvRows", java.lang.Long.valueOf(v)))
    m
  }

  private def parseFiles(n: com.fasterxml.jackson.databind.JsonNode): Seq[DataFileMeta] =
    n.get("files").elements().asScala.map { f =>
      DataFileMeta(f.get("path").asText(), f.get("partitionId").asInt(),
        f.get("rowCount").asLong(), f.get("minTs").asLong(), f.get("maxTs").asLong(),
        Option(f.get("convMin")).map(_.asText()),
        Option(f.get("convMax")).map(_.asText()),
        Option(f.get("sizeBytes")).map(_.asLong()).getOrElse(-1L),
        Option(f.get("convNulls")).map(_.asLong()),
        Option(f.get("dv")).map(_.asText()),
        Option(f.get("dvRows")).map(_.asLong()))
    }.toSeq

  // ---- compaction (S8 — the analogue of save(garbage=4, deflate=True):
  // rewrite accumulated small per-epoch files into one bucketed set) --------

  def compactions: Seq[CompactionMeta] = {
    if (!Files.exists(metaDir)) return Nil
    listDir(metaDir)(_.filter(_.getFileName.toString.startsWith("compact-"))
      .toSeq.sortBy(_.getFileName.toString))
      .map { p =>
        val n = mapper.readTree(Files.readAllBytes(p))
        CompactionMeta(n.get("gen").asLong(),
          n.get("replaces").elements().asScala.map(_.asLong()).toSeq,
          parseFiles(n), parseBuckets(n),
          Option(n.get("foldsDeletes"))
            .map(_.elements().asScala.map(_.asLong()).toSeq).getOrElse(Nil))
      }
  }

  // ---- row-level delete (GDPR-style copy-on-write purge) -------------------

  private def deletePath(gen: Long) = metaDir.resolve(f"delete-$gen%06d.json")

  /** Mutual exclusion for the maintenance family (DELETE/UPDATE/MERGE
    * rewrites, compact, gc, removeOrphans, expireMetadata) — engine-
    * enforced instead of the earlier "callers serialize externally"
    * contract. Two layers: a per-root JVM monitor (two instances or
    * threads in one process), then an OS file lock on
    * `metadata/maintenance.lock` (two processes). Without this, two
    * concurrent rewrites allocate the SAME generation and
    * [[atomicWrite]]'s lost-the-race tolerance silently DROPS one of
    * them. Reentrant per thread (the file lock would otherwise throw
    * `OverlappingFileLockException` on nesting). */
  /** Canonical lock key for this root: symlink-resolved when the path
    * exists (two spellings or symlinks of one table must share a monitor,
    * or both reach the OS lock and the second dies on
    * OverlappingFileLockException), normalized-absolute otherwise. */
  private def lockKey: String =
    try Paths.get(root).toRealPath().toString
    catch { case _: java.io.IOException =>
      Paths.get(root).toAbsolutePath.normalize.toString }

  /** Scoped two-layer lock: per-key JVM monitor + OS file lock on
    * `metadata/<name>`, reentrant per thread. If the metadata dir is
    * missing (nonexistent table), runs `f` unlocked — no lock skeleton is
    * materialized for typo'd roots; the op's own `require(exists)` (or
    * empty listing) fails it immediately, and a table DROPPED between the
    * existence check and the lock open is retried down the unlocked
    * path the same way. */
  private def withFileLock[A](name: String)(f: => A): A = {
    val key = lockKey + "#" + name
    if (IcebergLite.maintenanceHeld.get().contains(key)) return f
    if (!Files.exists(metaDir)) return f
    val mon = IcebergLite.maintenanceMonitors
      .computeIfAbsent(key, _ => new Object)
    mon.synchronized {
      val ch =
        try java.nio.channels.FileChannel.open(metaDir.resolve(name),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        catch { case _: java.nio.file.NoSuchFileException => null }
      if (ch == null) f // metaDir vanished under us — as the missing case
      else try {
        val lock = ch.lock()
        IcebergLite.maintenanceHeld.get().add(key)
        try f
        finally {
          IcebergLite.maintenanceHeld.get().remove(key)
          lock.release()
        }
      } finally ch.close()
    }
  }

  private def withMaintenanceLock[A](f: => A): A =
    withFileLock("maintenance.lock")(f)

  /** Serializes WRITERS OF ONE EPOCH through the publish→snapshot window:
    * without it, a divergent writer racing a live first-time commit of
    * the same epoch id sees `isCommitted == false` mid-publish
    * (check-then-act) and replaces the winner's already-claimed data
    * files before the winner's manifest lands — a committed manifest
    * describing the loser's bytes. Under the lock the loser observes
    * either the winner's snapshot (loud queryId guard / loud manifest
    * mismatch) or a fully-released window. One lock file per TABLE (not
    * per epoch — a 10^12-epoch table must not grow a lock file per
    * commit in its metadata listing); same-table epoch writers are a
    * single stream sink plus the occasional merge, so contention is
    * nil, and long maintenance jobs are on a different lock. */
  private def withEpochLock[A](epochId: Long)(f: => A): A =
    withFileLock("epoch.lock")(f)

  /** Next rewrite-generation id: above every COMMITTED delete manifest AND
    * every gen a pending (merge-staged, not yet activated) snapshot is
    * waiting on. Reusing a crashed merge's pending gen would let the next
    * mutation's `delete-<gen>.json` RESURRECT the orphaned insert epoch —
    * a torn merge (inserts without their matched-row rewrites) computed
    * against an effective view that never saw those rows. */
  private def nextRewriteGen(): Long =
    // committed manifests + pending stamps + BRANCH reservations (a
    // branch's gen is claimed at createBranch, before any stage exists)
    // + the retired-gen horizon and every gen a surviving compaction
    // records as folded: expireMetadata retires folded delete manifests,
    // and a counter computed from survivors alone would REGRESS and
    // re-allocate a retired gen — a new delete under a recycled number
    // is silently treated as already-folded by the latest generation's
    // foldsDeletes filter and never applied (found by the model-check
    // soak: live view resurrected a fresh DELETE's rows after two
    // expiry passes)
    (deletes.map(_.gen) ++ rawSnapshots.flatMap(_._2) ++ branches.values ++
      cdcGenHorizon ++ compactions.flatMap(_.foldsDeletes))
      .foldLeft(0L)(math.max) + 1L

  /** Committed delete manifests, in gen order. */
  def deletes: Seq[DeleteMeta] = {
    if (!Files.exists(metaDir)) return Nil
    listDir(metaDir)(_.filter(_.getFileName.toString.startsWith("delete-"))
      .toSeq.sortBy(_.getFileName.toString))
      .map { p =>
        val n = mapper.readTree(Files.readAllBytes(p))
        DeleteMeta(n.get("gen").asLong(), n.get("predicate").asText(),
          n.get("removes").elements().asScala.map(_.asText()).toSeq,
          n.get("fileSets").elements().asScala.map { fs =>
            DeleteFileSet(fs.get("numBuckets").asInt(),
              fs.get("sourceEpoch").asLong(), parseFiles(fs))
          }.toSeq,
          n.get("affectsCompacted").asBoolean(),
          Option(n.get("activatesEpoch")).map(_.asLong()),
          // None = manifest predates CDC recording (the feed fails loudly
          // over it); Some(Nil) would mean "recorded, zero rows"
          Option(n.get("changeFiles")).map(_.elements().asScala.map { cf =>
            ChangeFileMeta(cf.get("path").asText(), cf.get("rowCount").asLong())
          }.toSeq),
          // absent on plain DELETE/UPDATE/MERGE manifests (and all
          // pre-round-5 ones); "restore" marks a RESTORE commit
          Option(n.get("op")).map(_.asText()))
      }
  }

  /** Row-level DELETE by copy-on-write rewrite — the Iceberg-style answer
    * to "purge this conversation from the training corpus" without
    * rewriting the table. Candidate files (manifest-pruned via `prune` —
    * the DSv2 [[graft.sources.PrunePredicate]] at the SQL surface, so a
    * `conv_id` purge touches one bucket's files per epoch, not the table)
    * go through the shared mutation pipeline ([[mutate]]): a column-pruned
    * probe first (only the predicate's columns are decoded — a
    * false-positive candidate never pays a text read); files with no
    * matching row are left untouched (path, stats and
    * bucket unchanged), files fully matched are dropped,
    * partially-matched files are rewritten without the matching rows —
    * preserving row order, bucket `partitionId`, lineage columns and
    * per-file ts stats (recomputed), so manifest pruning stays exact.
    * The atomic `delete-<gen>.json` manifest records removed paths and
    * surviving rewrites grouped by source epoch; the effective view, the
    * incremental stream ([[epochFileSetsWithDeletes]]) and [[readSince]]
    * all serve the post-delete rows immediately.
    *
    * `condition` must evaluate the SQL predicate EXACTLY (rows where it is
    * TRUE are deleted; FALSE or NULL survive). Declared columns missing
    * from a pre-evolution file are supplied as typed NULLs first, so
    * e.g. `WHERE tool IS NULL` deletes old-schema rows correctly.
    *
    * What this is NOT: a physical purge. Originals stay on disk for
    * time travel ([[fileSetsAsOf]] of a pre-delete epoch still serves
    * them — the same contract as real Iceberg, where DELETE creates a new
    * snapshot and history retains the old one). Full physical purge =
    * deleteWhere → [[compact]] → [[gc]] → [[expireMetadata]].
    *
    * Returns the number of rows deleted. Maintenance op: serialized
    * against the whole maintenance family by the engine's per-root
    * JVM + file lock ([[withMaintenanceLock]]) — in-process, cross-
    * instance and cross-process. */
  def deleteWhere(spark: SparkSession, condition: org.apache.spark.sql.Column,
                  predicateText: String,
                  prune: Seq[FileSet] => Seq[DataFileMeta] = _.flatMap(_.files)): Long =
    deleteImpl(spark, condition, predicateText, prune, mor = false)

  /** Shared body of [[deleteWhere]] / [[deleteWhereMor]] — ONE definition
    * of the delete frames (fully-matched file dropped outright; partial
    * match rewritten without the matching rows, row order preserved) so
    * the cow and mor paths can never diverge on semantics. */
  private def deleteImpl(spark: SparkSession,
                         condition: org.apache.spark.sql.Column,
                         predicateText: String,
                         prune: Seq[FileSet] => Seq[DataFileMeta],
                         mor: Boolean): Long =
    rewriteWhere(spark, condition, predicateText, prune, mor,
      dropFullyMatched = true) { (all, hit) =>
      (all.filter(!hit), Seq("delete" -> all.filter(hit)))
    }

  /** Row-level DELETE by MERGE-ON-READ deletion vectors — the answer to
    * "a 10-row purge should not rewrite a 1 GiB file". The same
    * manifest-pruned pipeline as [[deleteWhere]] ([[mutate]]), but a file
    * whose matched fraction is at most `spark.sql.graft.dvMaxFraction`
    * (default 0.2) records its deleted ORIGINAL-ROW POSITIONS as a tiny
    * parquet sidecar (the pipeline's batched DV write) instead of being
    * rewritten: commit cost is O(matched rows), never O(file bytes). The manifest
    * entry keeps the SAME data path with the `dv` reference and the exact
    * survivor rowCount, so the whole manifest algebra — effective views,
    * per-epoch stream patching, compaction folding (a DV'd source entry
    * contributes its survivors and the compacted output carries no dv),
    * gc's live-reference guard, time travel, CDC recording, restore —
    * composes without special cases; only ROW READS need DV awareness
    * ([[readEntries]] and the connector). Files matched above the
    * fraction (or fully) fall back to the copy-on-write rewrite/drop per
    * file — the hybrid is chosen file-by-file. Chained mutations fold:
    * a later cow rewrite or compaction of a DV'd file folds the vector;
    * a later MOR delete unions positions into ONE cumulative vector.
    * Returns rows deleted. */
  def deleteWhereMor(spark: SparkSession, condition: org.apache.spark.sql.Column,
                     predicateText: String,
                     prune: Seq[FileSet] => Seq[DataFileMeta] = _.flatMap(_.files)): Long =
    deleteImpl(spark, condition, predicateText, prune, mor = true)

  /** Row-level UPDATE by copy-on-write rewrite — the same manifest-pruned
    * pipeline as [[deleteWhere]] ([[mutate]]), but matched rows are kept with
    * `assignments` applied instead of dropped ("fix the tool label on these
    * turns" without rewriting the table). All assignment values are
    * evaluated against the ORIGINAL row (SQL UPDATE semantics: `SET a = b,
    * b = a` swaps) in one projection, cast to the declared column type, and
    * rewritten files preserve row order, bucket `partitionId`, lineage
    * columns and recomputed per-file ts stats — so manifest pruning and
    * storage-partitioned reads stay exact. The rewrite publishes the same
    * atomic `delete-<gen>.json` manifest shape (removed paths + surviving
    * rewrites grouped by source epoch), so the effective view, incremental
    * stream patching, [[compact]] folding, [[gc]] and [[expireMetadata]]
    * all compose with updates exactly as with deletes.
    *
    * Structural columns are REJECTED loudly: `conv_id` fixes a row's hash
    * bucket (an in-place rewrite would leave bucket pruning and
    * storage-partitioned reads serving wrong results) and
    * `(conv_id, turn_idx)` is the table's stable-ordering contract —
    * correct the row with DELETE + a new-epoch INSERT instead. Lineage
    * columns (`epoch_id`, `partition_id`) are engine-managed and not in
    * the declared schema, so they are rejected by the declared-column
    * check. Returns the number of rows updated. */
  def updateWhere(spark: SparkSession, condition: org.apache.spark.sql.Column,
                  assignments: Seq[(String, org.apache.spark.sql.Column)],
                  predicateText: String,
                  prune: Seq[FileSet] => Seq[DataFileMeta] = _.flatMap(_.files)): Long = {
    require(assignments.nonEmpty, "UPDATE requires at least one assignment")
    require(assignments.map(_._1).distinct.size == assignments.size,
      s"duplicate UPDATE assignment targets: ${assignments.map(_._1).mkString(", ")}")
    val declared = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
    val typeOf = declared.fields.map(f => f.name -> f.dataType).toMap
    assignments.foreach { case (n, _) =>
      require(typeOf.contains(n),
        s"UPDATE target column '$n' is not in the declared schema " +
          s"(${declared.fieldNames.mkString(", ")}); lineage columns are " +
          "engine-managed and cannot be assigned")
      require(n != "conv_id" && n != "turn_idx",
        s"refusing to UPDATE structural column '$n': conv_id fixes the row's " +
          "hash bucket and (conv_id, turn_idx) is the stable-ordering " +
          "contract — DELETE the rows and INSERT corrected ones instead")
    }
    val assign = assignments.toMap
    rewriteWhere(spark, condition, predicateText, prune, mor = false,
      dropFullyMatched = false) { (all, hit) =>
      // ONE projection so every RHS sees original column values; the
      // bookkeeping columns pass through the `case None` branch
      val rewritten = all.select(all.columns.toSeq.map { c =>
        assign.get(c) match {
          case Some(v) => when(hit, v.cast(typeOf(c))).otherwise(col(c)).as(c)
          case None    => col(c)
        }
      }: _*)
      // CDC images: pre = the matched rows as they were; post = the SAME
      // rows with assignments applied unconditionally (every row of `pre`
      // matched, and re-evaluating `hit` post-assignment would be wrong —
      // `SET tool = 'x' WHERE tool = 'y'` no longer matches its own result)
      val pre = all.filter(hit)
      val post = pre.select(pre.columns.toSeq.map { c =>
        assign.get(c) match {
          case Some(v) => v.cast(typeOf(c)).as(c)
          case None    => col(c)
        }
      }: _*)
      (rewritten, Seq("update_preimage" -> pre, "update_postimage" -> post))
    }
  }

  /** SQL-MERGE-style upsert, keyed by the table's natural key
    * `(conv_id, turn_idx)`: `WHEN MATCHED THEN UPDATE SET *` (or `DELETE`)
    * over matched target rows, `WHEN NOT MATCHED THEN INSERT *` for source
    * rows with no target match — "apply this correction feed" in one
    * atomic commit.
    *
    * Execution shape (designed for the 10^12-turn table, not the feed):
    *  1. the source is materialized ONCE to staging parquet partitioned
    *     by the declared conv_id bucket — one shuffle of the (small)
    *     feed, never of the table — and the STAGED bytes are then
    *     validated (the key and every column the actions read present,
    *     cast; non-null unique keys — SQL MERGE forbids multiple source
    *     matches per target row), so a non-deterministic feed plan
    *     cannot pass validation with one set of rows and merge another;
    *  2. candidate target files are manifest-pruned by BUCKET SET: for
    *     each bucket layout in the effective view, the source's occupied
    *     buckets (a ≤ numBuckets-element aggregate of the feed) select
    *     the only files that can contain matches — a feed touching k
    *     conversations probes at most k buckets' files per epoch;
    *  3. not-matched source rows are committed as a NEW epoch via the
    *     normal deterministic sink layout, but the snapshot is stamped
    *     `pendingGen` — invisible to all readers;
    *  4. the shared mutation pipeline ([[mutate]]) probes the candidates
    *     with a column-pruned key semi-join against the staged feed
    *     (false-positive candidates never read the text column) and
    *     rewrites matched files — matched rows replaced by source values
    *     (all non-lineage columns; the original row position keeps the
    *     row order through the join) or anti-joined away for DELETE;
    *  5. ONE `delete-<gen>.json` manifest (removes + rewrites +
    *     `activatesEpoch`) is the single atomic commit point: rewrites
    *     and inserts appear together or not at all. Crash before (5)
    *     leaves the table unchanged (pending snapshot hidden;
    *     [[removeOrphans]] reclaims dead pendings once their gen is
    *     settled).
    *
    * Downstream semantics compose unchanged: the insert epoch is a normal
    * epoch (incremental streams replay it exactly-once; time travel serves
    * it), rewrites patch their source epochs' deltas, compaction folds the
    * manifest, gc reclaims superseded rewrite files.
    *
    * Maintenance op like [[compact]]/[[deleteWhere]]: serialized by the
    * engine's maintenance lock. The insert epoch is allocated as max(all snapshots,
    * pending included) + 1 — colliding with a concurrent epoch writer is
    * outside the contract and fails loudly via the `queryId` commit guard.
    */
  def merge(spark: SparkSession, source: DataFrame, queryId: String,
            matched: Option[MergeMatched], insertNotMatched: Boolean,
            description: String = "MERGE"): MergeStats = withMaintenanceLock {
    require(exists, s"IcebergLite table does not exist at $root")
    require(matched.isDefined || insertNotMatched,
      "MERGE requires at least one action (WHEN MATCHED and/or WHEN NOT MATCHED)")
    val declared = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
    require(declared.fieldNames.contains("conv_id") &&
      declared.fieldNames.contains("turn_idx"),
      "MERGE is keyed by (conv_id, turn_idx); this table does not declare them")
    val keys = Seq("conv_id", "turn_idx")
    require(!declared.fieldNames.exists(Set("__graft_b", "__graft_ord", "__graft_pos")),
      "column names __graft_b/__graft_ord/__graft_pos are reserved by MERGE internals")
    val updateCols: Set[String] = matched match {
      case Some(MergeUpdateAll) => declared.fieldNames.toSet -- keys
      case Some(MergeUpdateCols(cs)) =>
        val unknown = cs.filterNot(declared.fieldNames.contains)
        require(unknown.isEmpty,
          s"MERGE UPDATE target column(s) not in the declared schema: " +
            unknown.mkString(", "))
        cs.toSet -- keys
      case _ => Set.empty
    }
    // the source only has to carry what the actions read: the key plus
    // the assigned columns, or everything when inserting whole rows
    val needed: Seq[String] =
      if (insertNotMatched) declared.fieldNames.toSeq
      else (keys ++ declared.fieldNames.filter(updateCols.contains)).distinct
    val missing = needed.filterNot(source.columns.contains)
    require(missing.isEmpty,
      s"MERGE source is missing required column(s): ${missing.mkString(", ")}")
    val typeOf = declared.fields.map(f => f.name -> f.dataType).toMap
    val src0 = source.select(
      needed.map(c => col(c).cast(typeOf(c)).as(c)): _*)

    val gen = nextRewriteGen()
    val n = declaredNumBuckets.filter(_ > 0)
      .orElse(snapshots.lastOption.map(_.numBuckets).filter(_ > 0))
      .getOrElse(8)
    // materialize the feed FIRST, then validate the STAGED bytes: the
    // caller's plan is evaluated exactly once, so a non-deterministic or
    // concurrently-changing source cannot pass validation with one set of
    // rows and stage another (duplicate keys slipping past the check
    // would emit two output rows per matched target row). One shuffle of
    // the FEED (partitioned by the table's bucket function:
    // pmod(hash, n) == bucketOf — Murmur3 seed 42, HashPartitioning route)
    val stagingSrc = Paths.get(root, "_staging", s"merge-$gen")
    deleteRecursively(stagingSrc)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    src0.withColumn("__graft_b", pmod(hash(col("conv_id")), lit(n)))
      .write.partitionBy("__graft_b").mode("overwrite")
      .parquet(stagingSrc.resolve("src").toString)
    val stagedSchema = org.apache.spark.sql.types.StructType(
      declared.fields.filter(f => needed.contains(f.name)) :+
        org.apache.spark.sql.types.StructField("__graft_b",
          org.apache.spark.sql.types.IntegerType))
    val srcAll = spark.read.schema(stagedSchema)
      .parquet(stagingSrc.resolve("src").toString)

    def failMerge(msg: String): Nothing = {
      deleteRecursively(stagingSrc)
      throw new IllegalArgumentException(msg)
    }
    // ONE validation job: row count, NULL-key count, distinct-key count
    // AND every layout's occupied-bucket set come out of a single
    // aggregate over the staged feed.
    val base = effectiveFileSets
    val layoutNbs = base.map(_.numBuckets).distinct.filter(_ > 0)
    val vAggs: Seq[org.apache.spark.sql.Column] = Seq(
      count(lit(1)).as("n"),
      count(when(col("conv_id").isNull || col("turn_idx").isNull, 1)).as("nulls"),
      count_distinct(col("conv_id"), col("turn_idx")).as("dk")) ++
      layoutNbs.map(nb =>
        collect_set(pmod(hash(col("conv_id")), lit(nb))).as(s"__b$nb"))
    val vRow = srcAll.agg(vAggs.head, vAggs.tail: _*).head()
    val srcCount = vRow.getAs[Long]("n")
    if (srcCount == 0L) { deleteRecursively(stagingSrc); return MergeStats(0L, 0L, None) }
    if (vRow.getAs[Long]("nulls") != 0L)
      failMerge("MERGE source has NULL key column(s)")
    val distinctKeys = vRow.getAs[Long]("dk")
    if (distinctKeys != srcCount) failMerge(
      s"MERGE source has duplicate (conv_id, turn_idx) keys ($srcCount rows, " +
        s"$distinctKeys distinct) — SQL MERGE forbids multiple source " +
        "matches per target row")

    // per-layout occupied-bucket sets: bounded aggregates of the feed
    // (≤ numBuckets values each), the manifest-level candidate pruning
    val bucketSets: Map[Int, Set[Int]] =
      layoutNbs.map { nb =>
        nb -> vRow.getAs[scala.collection.Seq[Int]](s"__b$nb").toSet
      }.toMap
    val candidates: Seq[DataFileMeta] = base.flatMap { fs =>
      fs.files.filter(f => fs.numBuckets <= 0 ||
        bucketSets(fs.numBuckets).contains(f.partitionId))
    }
    val feed = srcAll.drop("__graft_b")

    var inserted = 0L
    var insertEpoch: Option[Long] = None
    if (insertNotMatched) {
      // anti-join the feed against ONLY the candidate files' keys
      // (matches cannot live outside the feed's buckets)
      val keySchema = org.apache.spark.sql.types.StructType(
        declared.fields.filter(f => keys.contains(f.name)))
      val targetKeys =
        if (candidates.isEmpty)
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            keySchema)
        // DV-aware: a key that exists ONLY in MOR-deleted rows is NOT
        // matched — its source row must insert (readEntries anti-joins
        // each file's vector; raw parquet here would silently drop it)
        else readEntries(spark, keySchema, candidates)
      val notMatched = feed.join(targetKeys, keys, "left_anti")
      // stage FIRST and take the insert count from the staged files'
      // footer row counts (exact), so the anti-join runs once
      val epoch = nextEpochId
      withEpochLock(epoch) {
        val files = stageAndPublish(notMatched, epoch, n)
        inserted = files.map(_.rowCount).sum
        if (inserted > 0L) {
          writeSnapshot(queryId, epoch, files, n, pendingGen = Some(gen))
          insertEpoch = Some(epoch)
        } else {
          // a zero-row feed remainder: nothing to commit — sweep any
          // empty file the writer produced so no unreferenced data lands
          files.foreach(f => Files.deleteIfExists(Paths.get(root, f.path)))
        }
      }
    }

    // matched rows: the target joined with the staged feed ONCE on the
    // natural key (source keys are unique, so the left join yields at most
    // one source row per target row); the CDC images come from the SAME
    // join the rewrite uses
    def frames(all: DataFrame): (DataFrame, Seq[(String, DataFrame)]) = {
      val bookCols = Seq("__graft_file", "__graft_pos")
      val outCols = all.columns.toSeq.filterNot(bookCols.contains)
      val joined = all.alias("t").join(feed.alias("s"),
        keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _), "left")
      val hitS = col("s.conv_id").isNotNull
      def tCol(c: String) = col(s"t.$c").as(c)
      val target = (outCols ++ bookCols).map(tCol)
      def assigned(c: String) =
        if (updateCols.contains(c)) col(s"s.$c").as(c) else tCol(c)
      matched.get match {
        case MergeDeleteMatched =>
          (joined.filter(!hitS).select(target: _*),
            Seq("delete" -> joined.filter(hitS).select(target: _*)))
        case _ =>
          val hits = joined.filter(hitS)
          (joined.select(outCols.map { c =>
            if (updateCols.contains(c))
              when(hitS, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)
            else tCol(c)
          } ++ bookCols.map(tCol): _*),
            Seq("update_preimage" -> hits.select(target: _*),
              "update_postimage" -> hits.select(
                outCols.map(assigned) ++ bookCols.map(tCol): _*)))
      }
    }
    val matchedRows = mutate(spark, gen, stagingSrc, base,
      if (matched.isEmpty) Nil else candidates,
      _.join(feed.select(keys.map(col): _*), keys, "left_semi"), frames,
      dropFullyMatched = matched.contains(MergeDeleteMatched), mor = false,
      description, activatesEpoch = insertEpoch)
    MergeStats(matchedRows, inserted, insertEpoch)
  }

  /** Predicate-driven entry to [[mutate]] for [[deleteWhere]],
    * [[deleteWhereMor]] and [[updateWhere]]: candidates are manifest-pruned
    * by `prune` and probed by `condition` (a NULL predicate never matches);
    * `frames` receives the matched files' rows and the match column. */
  private def rewriteWhere(spark: SparkSession,
                           condition: org.apache.spark.sql.Column,
                           predicateText: String,
                           prune: Seq[FileSet] => Seq[DataFileMeta],
                           mor: Boolean, dropFullyMatched: Boolean)(
      frames: (DataFrame, org.apache.spark.sql.Column) =>
        (DataFrame, Seq[(String, DataFrame)])): Long =
    withMaintenanceLock {
      require(exists, s"IcebergLite table does not exist at $root")
      val base = effectiveFileSets
      val candidates = prune(base)
      if (candidates.isEmpty) return 0L
      val gen = nextRewriteGen()
      val staging = Paths.get(root, "_staging", s"delete-$gen")
      deleteRecursively(staging)
      val hit = coalesce(condition, lit(false))
      mutate(spark, gen, staging, base, candidates, _.filter(hit),
        frames(_, hit), dropFullyMatched, mor, predicateText)
    }

  /** Source epoch per data path: epoch snapshots, else the rewrite add-set
    * that produced it. A path in neither is compaction-generation data. */
  private def sourceEpochs: Map[String, Long] =
    snapshots.flatMap(s => s.files.map(_.path -> s.epochId)).toMap ++
      deletes.flatMap(_.fileSets.flatMap(fs =>
        fs.files.map(_.path -> fs.sourceEpoch)))

  /** `files`' rows (read under `schema`) with their file name
    * (`__graft_file`) and original row position (`__graft_pos`), minus the
    * rows a prior deletion vector already deleted. Positions stay
    * original-file coordinates, so they also pin each file's row order. */
  private def dvMaskedRead(spark: SparkSession, schema: StructType,
                           files: Seq[DataFileMeta]): DataFrame = {
    val rows = spark.read.schema(schema)
      .parquet(files.map(f => s"$root/${f.path}"): _*)
      .withColumn("__graft_file",
        element_at(split(col("_metadata.file_path"), "/"), -1))
      .withColumn("__graft_pos", col("_metadata.row_index"))
    val vectors = files.flatMap(_.dvPath)
    if (vectors.isEmpty) rows
    else rows.join(
      readVectors(spark, vectors).select(col("__graft_file"),
        col("pos").as("__graft_pos")),
      Seq("__graft_file", "__graft_pos"), "left_anti")
  }

  /** Deletion-vector rows (`file`, `pos`) keyed by data file name. */
  private def readVectors(spark: SparkSession, dvPaths: Seq[String]): DataFrame =
    spark.read.parquet(dvPaths.distinct.map(p => s"$root/$p"): _*)
      .select(element_at(split(col("file"), "/"), -1).as("__graft_file"),
        col("file"), col("pos"))

  /** The one row-level mutation pipeline: copy-on-write DELETE, MOR
    * DELETE, UPDATE and MERGE differ only in their arguments.
    *
    *  1. probe: ONE job over every candidate's DV-masked rows counts the
    *     rows `probe` keeps, per file (file NAMES are unique per table:
    *     the data dir is flat);
    *  2. classify each matched file once: full drop (`dropFullyMatched`
    *     and every surviving row matched), deletion vector (`mor` and a
    *     matched fraction at most `spark.sql.graft.dvMaxFraction`), else
    *     copy-on-write rewrite;
    *  3. `frames` maps the matched files' DV-masked rows (a prior vector's
    *     rows are already deleted: invisible to the CDC images and to any
    *     rewrite, which folds the vector) to the replacement rows and the
    *     CDC frames; both keep the `__graft_file` / `__graft_pos`
    *     bookkeeping columns;
    *  4. ONE job each writes the CDC rows, the replacement rows and (MOR
    *     only) the cumulative vectors, partitioned by source file and
    *     sorted by original row position, so each file's output is what a
    *     per-file writer would have produced. CDC is recorded BEFORE the
    *     manifest: a crash in between leaves unreferenced change files
    *     that [[removeOrphans]] reclaims once the gen is settled;
    *  5. the driver claims each partition's single output file under its
    *     deterministic per-candidate name, then publishes ONE
    *     `delete-<gen>.json` ([[writeRewriteManifest]]), which also
    *     activates `activatesEpoch` (MERGE's pending inserts).
    *
    * `staging` is deleted before publishing. Returns total matched rows. */
  private def mutate(spark: SparkSession, gen: Long, staging: Path,
                     base: Seq[FileSet], candidates: Seq[DataFileMeta],
                     probe: DataFrame => DataFrame,
                     frames: DataFrame => (DataFrame, Seq[(String, DataFrame)]),
                     dropFullyMatched: Boolean, mor: Boolean,
                     predicateText: String,
                     activatesEpoch: Option[Long] = None): Long = {
    import scala.collection.parallel.CollectionConverters._
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    lazy val schema = fullReadSchema
    lazy val srcEpoch = sourceEpochs
    def nameOf(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val matchedByName: Map[String, Long] =
      if (candidates.isEmpty) Map.empty
      else probe(dvMaskedRead(spark, schema, candidates))
        .groupBy(col("__graft_file")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def matchedOf(f: DataFileMeta): Long = matchedByName.getOrElse(nameOf(f.path), 0L)
    val matchedCands = candidates.zipWithIndex.filter { case (f, _) => matchedOf(f) > 0L }
    val results: IndexedSeq[(Int, String, Long, ChangeFileMeta, Option[(Long, Int, DataFileMeta)])] =
      if (matchedCands.isEmpty) IndexedSeq.empty
      else {
        // MOR threshold: a file whose matched fraction exceeds this is
        // rewritten copy-on-write (a vector holding most of a file is worse
        // than the rewrite it avoids)
        val dvMaxFraction = spark.conf
          .get("spark.sql.graft.dvMaxFraction", "0.2").toDouble
        val dvFiles = matchedCands.map(_._1).filter { f =>
          mor && matchedOf(f) < f.rowCount &&
            matchedOf(f).toDouble / f.rowCount <= dvMaxFraction
        }
        val dvNames = dvFiles.map(f => nameOf(f.path)).toSet
        val dropNames = matchedCands.collect {
          case (f, _) if dropFullyMatched && matchedOf(f) == f.rowCount =>
            nameOf(f.path)
        }.toSet
        val rwNames = matchedCands.map { case (f, _) => nameOf(f.path) }
          .filterNot(n => dvNames(n) || dropNames(n))
        val all = dvMaskedRead(spark, schema, matchedCands.map(_._1))
        val (replacement, changes) = frames(all)
        val outCols = schema.fieldNames.toSeq
        // one dynamic-partitioned job per output kind; maxRecordsPerFile is
        // pinned so each partition holds exactly one file to claim
        def writeByFile(df: DataFrame, order: Seq[String], keep: Seq[String],
                        out: Path): Unit =
          df.repartition(col("__graft_file"))
            .sortWithinPartitions(("__graft_file" +: order).map(col): _*)
            .select((keep :+ "__graft_file").map(col): _*)
            .write.partitionBy("__graft_file").mode("overwrite")
            .option("maxRecordsPerFile", 0)
            .parquet(out.toString)
        val cdcOut = staging.resolve("cdcbatch")
        writeByFile(changes.zipWithIndex.map { case ((kind, d), fi) =>
          d.select(outCols.map(col) ++ Seq(
            lit(kind).as(TableChanges.ChangeTypeCol),
            col("__graft_file"), lit(fi).as("__graft_frame"),
            col("__graft_pos")): _*)
        }.reduce(_ unionAll _), Seq("__graft_frame", "__graft_pos"),
          outCols :+ TableChanges.ChangeTypeCol, cdcOut)
        val rwOut = staging.resolve("rwbatch")
        if (rwNames.nonEmpty)
          writeByFile(replacement.filter(col("__graft_file").isin(rwNames: _*)),
            Seq("__graft_pos"), outCols, rwOut)
        // each MOR file's cumulative vector: this mutation's positions ∪
        // its prior vector
        val dvOut = staging.resolve("dvbatch")
        if (dvFiles.nonEmpty) {
          val fresh = probe(all.filter(col("__graft_file").isin(dvNames.toSeq: _*)))
            .select(col("__graft_file"),
              concat(lit("data/"), col("__graft_file")).as("file"),
              col("__graft_pos").as("pos"))
          val priors = dvFiles.flatMap(_.dvPath)
          writeByFile(
            if (priors.isEmpty) fresh
            else fresh.unionByName(readVectors(spark, priors)),
            Seq("pos"), Seq("file", "pos"), dvOut)
        }
        // THE claim: one file per partition directory, or fail loudly — a
        // rolled-over second file would otherwise be dropped silently
        def claimed(outDir: Path, name: String, dst: Path): Path = {
          val dir = outDir.resolve(s"__graft_file=$name")
          val parts = listDir(dir)(
            _.filter(_.getFileName.toString.endsWith(".parquet")).toSeq)
          if (parts.size != 1) throw new IllegalStateException(
            s"mutation gen $gen: expected exactly one parquet file in $dir, " +
              s"found ${parts.size}; refusing to publish a partial rewrite")
          claimFrom(parts.head, dst, committed = Files.exists(deletePath(gen)))
          Files.deleteIfExists(parts.head)
          dst
        }
        val bucketsOf: Map[String, Int] =
          base.flatMap(fs => fs.files.map(_.path -> fs.numBuckets)).toMap
        Files.createDirectories(dataDir)
        Files.createDirectories(changesDir)
        matchedCands.par.map { case (f, idx) =>
          val name = nameOf(f.path)
          val m = matchedOf(f)
          val cdcName = f"cdc-$gen%04d-$idx%05d.parquet"
          claimed(cdcOut, name, changesDir.resolve(cdcName))
          val cf = ChangeFileMeta(s"changes/$cdcName", m * changes.size)
          def added(meta: DataFileMeta) =
            Some((srcEpoch.getOrElse(f.path, -1L), bucketsOf.getOrElse(f.path, -1), meta))
          val add: Option[(Long, Int, DataFileMeta)] =
            if (dropNames(name)) None
            else if (dvNames(name)) {
              val dvName = f"dv-$gen%04d-$idx%05d.parquet"
              claimed(dvOut, name, dataDir.resolve(dvName))
              // SAME data path, exact survivor rowCount, conservative
              // original stats, cumulative dvRows
              added(f.copy(rowCount = f.rowCount - m,
                convIdNulls = f.convIdNulls.filter(_ == 0L),
                dvPath = Some(s"data/$dvName"),
                dvRows = f.dvPath match {
                  case None => Some(m)
                  case Some(_) => f.dvRows.map(_ + m)
                }))
            } else {
              val rwName = f"part-d$gen%04d-$idx%05d.parquet"
              val dst = claimed(rwOut, name, dataDir.resolve(rwName))
              added(footerStats(dst, gen, f.partitionId, s"data/$rwName"))
            }
          (idx, f.path, m, cf, add)
        }.toIndexedSeq.sortBy(_._1)
      }
    deleteRecursively(staging)
    val removes = results.map(_._2)
    if (removes.isEmpty && activatesEpoch.isEmpty) return 0L
    // affectsCompacted is true when compaction-generation data was
    // touched: per-epoch stream patching is impossible for replaced
    // epochs (their raw files predate the generation), so lagging
    // streams must fail loudly instead of replaying purged rows — see
    // the DSv2 source guard
    writeRewriteManifest(gen, predicateText, removes, results.flatMap(_._5),
      affectsCompacted = removes.exists(p => !srcEpoch.contains(p)),
      activatesEpoch = activatesEpoch, changeFiles = results.map(_._4))
    results.map(_._3).sum
  }

  /** Atomic publication of a copy-on-write rewrite: ONE
    * `delete-<gen>.json` that removes `removes`, adds the rewritten
    * survivors grouped by source epoch, and (for [[merge]]) activates the
    * pending insert epoch — the single commit point for DELETE, UPDATE and
    * MERGE alike. */
  private def writeRewriteManifest(gen: Long, predicateText: String,
                                   removes: Seq[String],
                                   adds: Seq[(Long, Int, DataFileMeta)],
                                   affectsCompacted: Boolean,
                                   activatesEpoch: Option[Long],
                                   changeFiles: Seq[ChangeFileMeta],
                                   op: Option[String] = None): Unit = {
    val m = new JHashMap[String, Object]()
    m.put("gen", java.lang.Long.valueOf(gen))
    m.put("predicate", predicateText)
    m.put("affectsCompacted", java.lang.Boolean.valueOf(affectsCompacted))
    op.foreach(o => m.put("op", o))
    activatesEpoch.foreach(e => m.put("activatesEpoch", java.lang.Long.valueOf(e)))
    // recorded CDC rows of this mutation (ALWAYS present on new manifests,
    // possibly as an empty list; its ABSENCE marks a pre-CDC manifest —
    // the feed fails loudly over such gens instead of silently serving
    // nothing)
    val cfl: JList[Object] = new JArrayList[Object]()
    changeFiles.sortBy(_.path).foreach { cf =>
      val cm = new JHashMap[String, Object]()
      cm.put("path", cf.path)
      cm.put("rowCount", java.lang.Long.valueOf(cf.rowCount))
      cfl.add(cm)
    }
    m.put("changeFiles", cfl)
    val rl: JList[Object] = new JArrayList[Object]()
    removes.foreach(rl.add)
    m.put("removes", rl)
    val fsl: JList[Object] = new JArrayList[Object]()
    adds.groupBy(a => (a._1, a._2)).toSeq.sortBy(_._1).foreach {
      case ((se, nb), group) =>
        val fs = new JHashMap[String, Object]()
        fs.put("sourceEpoch", java.lang.Long.valueOf(se))
        fs.put("numBuckets", Integer.valueOf(nb))
        val fl: JList[Object] = new JArrayList[Object]()
        group.map(_._3).sortBy(_.path).foreach(df => fl.add(fileJson(df)))
        fs.put("files", fl)
        fsl.add(fs)
    }
    m.put("fileSets", fsl)
    atomicWrite(deletePath(gen), mapper.writeValueAsBytes(m))
  }

  /** RESTORE the live view to a prior committed state — Delta-RESTORE /
    * Iceberg-rollback semantics: nothing is erased; the restore is itself
    * a NEW content-mutation gen in the audit trail, and every later
    * mechanism (mutations, compaction folding, gc, metadata expiry, CDC,
    * incremental stream patching, time travel) composes with it exactly as
    * with a DELETE/UPDATE, because the commit IS a standard rewrite
    * manifest. `to` is a full [[TableVersion]]; restore "to epoch e" means
    * [[versionAtEpoch]] — the state when e was freshly committed, the same
    * anchor CDC uses.
    *
    * Mechanism — METADATA-ONLY, zero data movement: the target view is
    * reconstructed from the raw per-epoch files ([[attributedViewAt]] —
    * loud when gc reclaimed them; tags pin), and ONE `delete-<gen>.json`
    * removes every live path not in the target and re-adds every target
    * file not live, each under the source epoch its delta belongs to (so
    * a lagging incremental reader of epoch e serves e's post-restore
    * delta; epochs the restore un-appends serve empty deltas). Restoring
    * across a compaction boundary normally re-points to the raw files
    * (content-correct; run [[compact]] afterwards to re-optimize the
    * layout) — except when a delete in the target's past removed
    * compaction-generation paths, where the raw replay is impossible and
    * the target replays the version-bounded live composition instead
    * (see [[attributedViewAt]]).
    *
    * The restore's CDC rows are recorded at commit time like every
    * mutation's: they are exactly the INVERSE of the forward diff
    * `to → current` ([[TableChanges.between]] — manifest-first, so only
    * churned files are scanned and the recording cost is proportional to
    * what the restore actually changes, never the table). Rows are written
    * with a deterministic full-row-hash partitioning, sorted, so the
    * change files are reproducible.
    *
    * Restores CONTENT, not schema: evolution is add-only and the declared
    * schema stays current — restored pre-evolution rows read their added
    * columns as NULL, like any old file.
    *
    * No-op contract: when the live view already serves the target's exact
    * file paths, nothing is committed (gen −1). Epoch and gen counters
    * never regress — appends after a restore continue the same log. */
  def restore(spark: SparkSession, to: TableVersion): RestoreStats =
    withMaintenanceLock {
      require(exists, s"IcebergLite table does not exist at $root")
      val cur = currentVersion
      require(to.epoch <= cur.epoch && to.gen <= cur.gen,
        s"cannot restore $root to $to: not in the past of the current " +
          s"version $cur")
      versionGuards(to)
      val target = attributedViewAt(to)
      val live = effectiveFileSets
      // identity is (path, deletion vector): a MOR delete keeps the path
      // and swaps the vector, so a path-only diff would neither undo it
      // (no re-add of the vector-free entry) nor record its CDC inverse
      val liveKeys = live.flatMap(_.files.map(f => (f.path, f.dvPath))).toSet
      val targetKeys = target.flatMap(_._2.files.map(f => (f.path, f.dvPath))).toSet
      if (liveKeys == targetKeys) return RestoreStats(-1L, 0, 0, 0L)

      val srcEpoch = sourceEpochs
      val gen = nextRewriteGen()
      val staging = Paths.get(root, "_staging", s"delete-$gen")
      deleteRecursively(staging)
      try {
        // CDC first (crash in between leaves unreferenced change files;
        // removeOrphans reclaims them once the gen settles)
        val ct = col(TableChanges.ChangeTypeCol)
        val inverted = TableChanges.between(spark, root, to, Some(cur))
          .withColumn(TableChanges.ChangeTypeCol,
            when(ct === "insert", "delete")
              .when(ct === "delete", "insert")
              .when(ct === "update_preimage", "update_postimage")
              .otherwise("update_preimage"))
          .cache()
        val changeFiles = try {
          val n = inverted.count()
          if (n == 0L) (Nil: Seq[ChangeFileMeta], 0L)
          else {
            // deterministic distributed write: full-row hash partitioning
            // (works for any schema) + in-partition sort, ~1M rows/file
            val cols = fullReadSchema.fieldNames.toSeq
            val numParts = math.max(1L, math.min(1024L,
              (n + 999999L) / 1000000L)).toInt
            val outDir = staging.resolve("cdc")
            spark.conf.set("spark.sql.parquet.outputTimestampType",
              "TIMESTAMP_MICROS")
            inverted
              .repartition(numParts, cols.map(col): _*)
              .sortWithinPartitions(
                (cols :+ TableChanges.ChangeTypeCol).map(col): _*)
              .write.mode("overwrite").parquet(outDir.toString)
            val parts = listDir(outDir)(
              _.filter(_.getFileName.toString.endsWith(".parquet"))
                .toSeq.sortBy(_.getFileName.toString))
            Files.createDirectories(changesDir)
            (parts.zipWithIndex.map { case (src, idx) =>
              val name = f"cdc-$gen%04d-$idx%05d.parquet"
              val dst = changesDir.resolve(name)
              claimFrom(src, dst, committed = Files.exists(deletePath(gen)))
              Files.deleteIfExists(src)
              ChangeFileMeta(s"changes/$name",
                footerStats(dst, gen, idx, s"changes/$name").rowCount)
            }, n)
          }
        } finally inverted.unpersist()
        val removes = live.flatMap(_.files)
          .filterNot(f => targetKeys((f.path, f.dvPath))).map(_.path)
        val adds = target.flatMap { case (se, fs) =>
          fs.files.filterNot(f => liveKeys((f.path, f.dvPath)))
            .map(f => (se, fs.numBuckets, f))
        }
        writeRewriteManifest(gen,
          s"RESTORE TO version (epoch ${to.epoch}, gen ${to.gen})",
          removes, adds,
          affectsCompacted = removes.exists(p => !srcEpoch.contains(p)),
          activatesEpoch = None, changeFiles = changeFiles._1,
          op = Some("restore"))
        RestoreStats(gen, removes.size, adds.size, changeFiles._2)
      } finally deleteRecursively(staging)
    }

  /** Effective file set: the LATEST compaction generation plus epochs not
    * replaced by any generation, with un-folded [[deleteWhere row-level
    * deletes]] applied on top (removed files subtracted, their rewritten
    * survivors added).
    *
    * Each [[compact]] call reads the full effective view (earlier
    * generations included) and rewrites it, so generation N strictly
    * supersedes generations < N — including all earlier generations' files
    * would double-count every previously-compacted row on the second
    * compaction. */
  def effectiveFiles: Seq[DataFileMeta] = effectiveFileSets.flatMap(_.files)

  /** [[effectiveFiles]] grouped by bucketing layout, for manifest-level
    * pruning ([[IcebergLite.pruneFileSets]]): the latest compaction
    * generation and each un-replaced epoch each carry their own recorded
    * `numBuckets`. */
  def effectiveFileSets: Seq[FileSet] =
    effectiveFileSets(compactions, snapshots, deletes)

  /** [[effectiveFileSets]] over metadata the caller already parsed — the
    * accessors re-list + re-parse manifest JSON per call, so multi-view
    * callers ([[compact]]'s reuse/rewrite split) parse once and reuse.
    *
    * LOCKSTEP NOTE: [[attributedViewAt]]'s generation branch replays this
    * same latest-generation + un-replaced-epochs + un-folded-deletes
    * composition over version-bounded inputs (with source-epoch
    * attribution and a loud unapplied-remove self-check, which the live
    * path must not have — epoch-filtered stream patching RELIES on
    * removes not landing). A change to the composition rule here must be
    * mirrored there or live and pinned views diverge. */
  private def effectiveFileSets(comps: Seq[CompactionMeta],
                                snaps: Seq[SnapshotMeta],
                                dels: Seq[DeleteMeta]): Seq[FileSet] = {
    val replaced = comps.flatMap(_.replaces).toSet
    val latestGen =
      if (comps.isEmpty) Nil
      else { val c = comps.maxBy(_.gen); Seq(FileSet(c.numBuckets, c.files)) }
    val base = latestGen ++
      snaps.filterNot(s => replaced.contains(s.epochId))
        .map(s => FileSet(s.numBuckets, s.files))
    // deletes folded into the latest generation are already reflected in
    // its files — applying them again would double-add their survivors
    val folded: Set[Long] =
      if (comps.isEmpty) Set.empty else comps.maxBy(_.gen).foldsDeletes.toSet
    applyDeletes(base, dels.filterNot(d => folded.contains(d.gen)))
  }

  /** Ordered application of delete manifests to a file-set view: each
    * delete subtracts its removed paths from EVERY set (a later delete may
    * remove an earlier delete's rewritten file — chains compose), then
    * appends its surviving rewritten files as their own sets.
    * `epochFilter` restricts the appended sets to one source epoch — the
    * incremental-stream patch, which serves epoch deltas post-delete. */
  private def applyDeletes(base: Seq[FileSet], ds: Seq[DeleteMeta],
                           epochFilter: Option[Long] = None): Seq[FileSet] =
    ds.sortBy(_.gen).foldLeft(base) { (sets, d) =>
      val rm = d.removes.toSet
      sets.map(fs => fs.copy(files = fs.files.filterNot(f => rm.contains(f.path))))
        .filter(_.files.nonEmpty) ++
        d.fileSets.filter(fs => epochFilter.forall(_ == fs.sourceEpoch))
          .map(fs => FileSet(fs.numBuckets, fs.files))
          .filter(_.files.nonEmpty)
    }

  // ---- tags (named retention-pinning refs over the snapshot log) ----------

  private def tagsPath = metaDir.resolve("tags.json")

  /** Named tags: `name -> epoch`. A tag makes `VERSION AS OF '<name>'`
    * resolve through the catalog AND pins history: [[gc]] keeps the data
    * files and [[expireMetadata]] the snapshot manifests of every epoch at
    * or below the newest tagged epoch (a time-travel read of epoch e needs
    * ALL epochs <= e), so a tagged version stays replayable until the tag
    * is dropped. Compaction itself is unaffected — only the reclamation
    * steps hold back. */
  def tags: Map[String, Long] = {
    if (!Files.exists(tagsPath)) return Map.empty
    val n = mapper.readTree(Files.readAllBytes(tagsPath))
    n.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
  }

  /** Names must not look like epoch ids — `VERSION AS OF '7'` must stay
    * unambiguous — and must be path/JSON-safe. */
  private def validTagName(name: String): Boolean =
    name.matches("[A-Za-z][A-Za-z0-9._-]*")

  def tag(name: String, epoch: Long): Unit = withMaintenanceLock {
    require(validTagName(name),
      s"invalid tag name '$name': must start with a letter and use only " +
        "letters, digits, '.', '_', '-' (so it can never shadow an epoch id)")
    require(snapshots.exists(_.epochId == epoch),
      s"cannot tag epoch $epoch of $root: not a committed snapshot " +
        s"(committed: ${snapshots.map(_.epochId).mkString("[", ", ", "]")})")
    // mirror of createBranch's guard — tags and branches share the name
    // space so `VERSION AS OF '<name>'` vs `.option("branch", <name>)`
    // can never resolve the same name to different views
    require(!branches.contains(name),
      s"'$name' is already a branch on $root — tags and branches share " +
        "the name space to keep reads unambiguous")
    val cur = tags
    cur.get(name) match {
      case Some(e) if e == epoch => // idempotent re-tag
      case Some(e) => throw new IllegalStateException(
        s"tag '$name' already points at epoch $e of $root; drop it first " +
          s"to retarget (refusing a silent move to $epoch)")
      case None =>
        // a tag is a REPLAYABILITY promise: it pins gc/expiry from here
        // on, but it cannot resurrect state already reclaimed — verify
        // the pinned view reconstructs NOW, or refuse the tag instead of
        // minting a promise every later read breaks loudly. (Checked
        // against versionAtEpoch, not the live fast path: `AS OF` the
        // latest epoch serves the live view today but degrades to
        // reconstruction the moment the next epoch lands.)
        // forcePinned: the tagged epoch is often the CURRENT version,
        // whose fast path (live view) trivially exists — the promise
        // being minted is the PINNED reconstruction every later read
        // will run, so that is what must be verified
        try attributedViewAt(versionAtEpoch(epoch), forcePinned = true)
        catch {
          case e: IllegalStateException => throw new IllegalStateException(
            s"cannot tag epoch $epoch of $root: its pinned view is " +
              "already irreproducible (a tag pins future reclamation, it " +
              s"cannot undo past gc/expiry) — ${e.getMessage}")
        }
        writeTags(cur + (name -> epoch))
    }
  }

  def dropTag(name: String): Unit = withMaintenanceLock {
    val cur = tags
    require(cur.contains(name),
      s"no tag '$name' on $root; tags: ${cur.keys.toSeq.sorted.mkString(", ")}")
    writeTags(cur - name)
  }

  private def writeTags(m: Map[String, Long]): Unit = {
    val node = new JHashMap[String, Object]()
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      node.put(k, java.lang.Long.valueOf(v))
    }
    Files.createDirectories(metaDir)
    atomicReplace(tagsPath, mapper.writeValueAsBytes(node))
  }

  /** The retention pin tags impose on gc/expiry: everything at or below
    * this epoch stays. */
  private def maxTaggedEpoch: Option[Long] = tags.values.maxOption

  // ---- branches (round-5 session 5) ---------------------------------------
  // A branch is a NAMED CHAIN of staged epochs sharing one reserved
  // activation gen — the write-audit-publish protocol generalized from one
  // epoch to many. Writes to the branch land invisible (the WAP
  // `pendingGen + wap` stamps, so every existing guard — removeOrphans
  // protection, id allocation over pending snapshots, gc leaving staged
  // files alone — applies verbatim); the branch VIEW is the live table
  // plus its staged epochs; `fastForward` publishes the whole chain with
  // ONE atomic manifest write, because visibility is keyed on the
  // existence of `delete-<gen>.json` and every branch epoch shares the
  // gen. Iceberg's audit-branch workflow, without a second snapshot DAG:
  // the branch is metadata (one reserved gen + the stages), and every
  // reader/maintenance mechanism composes with it because a branch epoch
  // IS a WAP stage.

  private def branchesPath = metaDir.resolve("branches.json")

  /** Live branches: name -> reserved activation gen. */
  def branches: Map[String, Long] = {
    if (!Files.exists(branchesPath)) return Map.empty
    val n = mapper.readTree(Files.readAllBytes(branchesPath))
    n.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
  }

  private def writeBranches(m: Map[String, Long]): Unit = {
    val node = new JHashMap[String, Object]()
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      node.put(k, java.lang.Long.valueOf(v))
    }
    Files.createDirectories(metaDir)
    atomicReplace(branchesPath, mapper.writeValueAsBytes(node))
  }

  /** Create a branch: reserve its activation gen. The reservation is
    * durable BEFORE any stage exists ([[nextRewriteGen]] scans
    * `branches.json`), so a concurrent mutation can never claim the gen. */
  def createBranch(name: String): Long = withMaintenanceLock {
    require(validTagName(name),
      s"invalid branch name '$name': must start with a letter and use " +
        "only letters, digits, '.', '_', '-'")
    require(!tags.contains(name),
      s"'$name' is already a tag on $root — tags and branches share the " +
        "name space to keep reads unambiguous")
    val cur = branches
    require(!cur.contains(name),
      s"branch '$name' already exists on $root (gen ${cur(name)})")
    val gen = nextRewriteGen()
    writeBranches(cur + (name -> gen))
    gen
  }

  /** Stage an epoch ON a branch — [[stageEpoch]] with the branch's shared
    * reserved gen instead of a fresh one. Same idempotent-replay contract. */
  def stageEpochOnBranch(df: DataFrame, queryId: String, epochId: Long,
                         numBuckets: Int, branch: String): Long = withMaintenanceLock {
    val gen = branches.getOrElse(branch, throw new IllegalArgumentException(
      s"no branch '$branch' on $root; branches: " +
        s"${branches.keys.toSeq.sorted.mkString(", ")}"))
    // fastForward crash window: the activation manifest was written but the
    // crash hit before the branch name was released. A stage against the
    // published gen would be INSTANTLY visible (visibility is keyed on the
    // manifest's existence) — no audit, and the branch view would double
    // count. Same guard stageEpoch has for reused WAP gens.
    require(!Files.exists(deletePath(gen)),
      s"branch '$branch' of $root was already fast-forwarded (activation " +
        "manifest exists; the name survived a crash before release) — " +
        "re-run CALL graft.system.fast_forward to release the name, then " +
        "create a fresh branch")
    withEpochLock(epochId) {
      require(exists, s"IcebergLite table does not exist at $root")
      if (isCommitted(epochId)) {
        val stored = mapper.readTree(Files.readAllBytes(snapPath(epochId)))
          .get("queryId").asText()
        val (pending, wap) = pendingStamp(epochId)
        require(wap && pending.contains(gen),
          s"epoch $epochId of $root already exists and is not a stage of " +
            s"branch '$branch' (query '$stored') — cannot re-stage it")
        require(stored == queryId,
          s"epoch $epochId of $root already staged by query '$stored'; " +
            s"refusing idempotent no-op for different query '$queryId'")
        return gen
      }
      val files = stageAndPublish(df, epochId, numBuckets)
      writeSnapshot(queryId, epochId, files, numBuckets,
        pendingGen = Some(gen), wapStaged = true)
      gen
    }
  }

  /** The branch's un-published epochs, in epoch order. Empty in the
    * fastForward crash window (manifest written, name not yet released):
    * the epochs are committed history then, and counting them here would
    * double-count them in [[branchFileSets]]. */
  def branchEpochs(branch: String): Seq[SnapshotMeta] = {
    val gen = branches.getOrElse(branch, throw new IllegalArgumentException(
      s"no branch '$branch' on $root; branches: " +
        s"${branches.keys.toSeq.sorted.mkString(", ")}"))
    if (Files.exists(deletePath(gen))) return Nil
    rawSnapshots.collect {
      case (s, Some(g)) if g == gen => s
    }.sortBy(_.epochId)
  }

  /** Branch READ view: the live table plus the branch's staged epochs —
    * "main + this audit's deltas". Served by the connector via
    * `.option("branch", name)` too ([[branchFileSets]]). */
  def readBranch(spark: SparkSession, branch: String): DataFrame =
    readEntries(spark, fullReadSchema, branchFileSets(branch).flatMap(_.files))

  /** Effective live file sets + the branch's staged epochs' sets. */
  def branchFileSets(branch: String): Seq[FileSet] =
    effectiveFileSets ++
      branchEpochs(branch).map(s => FileSet(s.numBuckets, s.files))

  /** Publish the WHOLE branch atomically: one empty rewrite manifest at
    * the branch's shared gen activates every staged epoch at once (the
    * same existence rule that activates a merge's pending insert). After
    * the write the branch name is released — its epochs are ordinary
    * committed epochs (time travel serves them, compaction folds them,
    * CDC serves their rows bounded by the activating gen).
    *
    * INCREMENTAL-STREAM caveat (offsets are epoch-id watermarks): a
    * stream only replays a published epoch if its committed offset is
    * still BELOW that epoch's id. If main committed epochs while the
    * audit ran, a running stream's offset may already have passed the
    * branch epochs' ids — those rows would silently never reach it. This
    * method therefore fails loudly when any [[registerReader registered
    * reader]]'s offset has passed the smallest branch epoch; pass
    * `force = true` after retiring those checkpoints (or accept that
    * only CDC/[[TableChanges]] consumers — which are gen-ordered, not
    * epoch-ordered — will see the rows). Returns the activated epoch ids
    * (possibly empty: fast-forwarding an unwritten branch just releases
    * the name). */
  def fastForward(branch: String, force: Boolean = false): Seq[Long] = withMaintenanceLock {
    val cur = branches
    val gen = cur.getOrElse(branch, throw new IllegalArgumentException(
      s"no branch '$branch' on $root; branches: " +
        s"${cur.keys.toSeq.sorted.mkString(", ")}"))
    val epochs = rawSnapshots.collect {
      case (s, Some(g)) if g == gen => s.epochId
    }.sorted
    if (epochs.nonEmpty && !Files.exists(deletePath(gen))) {
      requireNoPassedReaders(epochs.min, force,
        s"fast-forwarding branch '$branch'")
      writeRewriteManifest(gen,
        s"FAST-FORWARD branch '$branch' (epochs ${epochs.mkString(", ")})",
        removes = Nil, adds = Nil, affectsCompacted = false,
        activatesEpoch = None, changeFiles = Nil,
        op = Some("fast_forward"))
    }
    writeBranches(cur - branch)
    epochs
  }

  /** Loud half of the publish-below-offset contract: incremental streams
    * plan `(offset, latest]` by epoch id, so an epoch published at an id a
    * reader has already passed is invisible to it forever — silent
    * downstream data loss. Refuse unless forced. */
  private def requireNoPassedReaders(minEpoch: Long, force: Boolean,
                                     what: String): Unit = {
    if (force) return
    val passed = readerOffsets.filter(_._2 >= minEpoch)
    require(passed.isEmpty,
      s"$what of $root would publish epoch $minEpoch below the committed " +
        s"offset of incremental reader(s) " +
        passed.toSeq.sorted.map { case (r, o) => s"'$r' (offset $o)" }
          .mkString(", ") +
        " — those streams plan (offset, latest] by epoch id and would " +
        "NEVER replay these rows. Retire/restart those checkpoints (or " +
        "consume via the gen-ordered CDC feed) and re-run with " +
        "force => true.")
  }

  /** Discard a branch: drop every staged epoch (snapshot + data files)
    * and release the name. Loud if already fast-forwarded (the epochs are
    * visible history — use [[restore]]). Returns deleted relative paths. */
  def dropBranch(branch: String): Seq[String] = withMaintenanceLock {
    val cur = branches
    val gen = cur.getOrElse(branch, throw new IllegalArgumentException(
      s"no branch '$branch' on $root; branches: " +
        s"${cur.keys.toSeq.sorted.mkString(", ")}"))
    require(!Files.exists(deletePath(gen)),
      s"branch '$branch' of $root was fast-forwarded — its epochs are " +
        "visible history now (roll back with CALL graft.system.restore)")
    val dropped = branchEpochs(branch)
      .flatMap(s => discardStaged(s.epochId, allowBranchEpoch = true))
    writeBranches(cur - branch)
    dropped
  }

  /** The committed CONTENT-mutation high-water mark: the rewrite
    * generations row-level deletes/updates/merges allocate
    * ([[nextRewriteGen]], always >= 1 — so 0 unambiguously means "never
    * mutated"). Compactions keep their own 0-based counter and are
    * deliberately NOT part of the version token: they change layout, never
    * content, so a version pinned before a compaction still identifies the
    * same rows. */
  def currentGen: Long =
    // the CDC gen horizon keeps the high-water mark truthful after
    // expireMetadata retires settled delete manifests — without it a fully
    // vacuumed table would report gen 0 and a feed anchored at
    // currentVersion would trip its own horizon guard
    (deletes.map(_.gen) ++ cdcGenHorizon).foldLeft(0L)(math.max)

  /** The table's full state token right now — capture it before a batch of
    * work, pass it to [[TableChanges.since]] later. Survives metadata
    * expiry: the epoch component falls back to the expiry horizon when
    * every snapshot was retired (compaction holds the data; the epoch
    * counter must never regress). */
  def currentVersion: TableVersion =
    TableVersion((snapshots.lastOption.map(_.epochId) ++ expiryHorizon)
      .foldLeft(-1L)(math.max), currentGen)

  /** The state token as of epoch `e`'s own commit (the snapshot's `maxGen`
    * stamp): "what a reader saw when epoch e was freshly committed".
    * Snapshots written before the stamp existed resolve to gen 0. */
  def versionAtEpoch(e: Long): TableVersion = {
    val s = snapshots.find(_.epochId == e).getOrElse(throw
      new IllegalArgumentException(
        s"epoch $e is not a committed snapshot of $root; committed: " +
          snapshots.map(_.epochId).mkString("[", ", ", "]")))
    TableVersion(e, s.maxGen)
  }

  /** The view pinned to a [[TableVersion]]: epochs <= `v.epoch`
    * (merge-pending snapshots only if their activating gen <= `v.gen`)
    * with delete manifests gen <= `v.gen` applied, reconstructed from the
    * RAW per-epoch files — compactions are content-neutral and excluded,
    * so a version pinned before one still resolves. The exact CURRENT
    * version takes the effective (possibly compacted) fast path, which is
    * content-identical by compaction's invariant and survives gc. This is
    * the reconstruction [[TableChanges]] diffs against; like
    * [[fileSetsAsOf]], a historical view whose files were reclaimed by gc
    * fails loudly rather than serving a hole (tags pin the files). */
  def effectiveFileSetsAt(v: TableVersion): Seq[FileSet] = {
    versionGuards(v)
    if (v == currentVersion) return effectiveFileSets
    attributedViewAt(v).map(_._2)
  }

  /** Shared committed/future guards for version-pinned reconstruction. */
  private def versionGuards(v: TableVersion): Unit = {
    require(v.gen <= currentGen,
      s"table version $v is in the future of $root (current gen $currentGen)")
    if (v.epoch >= 0 && !snapshots.exists(_.epochId == v.epoch))
      throw new IllegalArgumentException(
        s"epoch ${v.epoch} is not a committed snapshot of $root; committed: " +
          snapshots.map(_.epochId).mkString("[", ", ", "]"))
  }

  /** [[effectiveFileSetsAt]]'s reconstruction, with each file set's
    * SOURCE EPOCH kept: the epoch whose delta the files belong to — the
    * attribution [[restore]] must write into its manifest so incremental
    * streams keep patching per-epoch deltas correctly. Base sets carry
    * their snapshot's epoch; delete-rewrite survivors keep the
    * `sourceEpoch` their manifest recorded (−1 = compaction-origin).
    * Callers run [[versionGuards]] first.
    *
    * Two replay bases, chosen by what the in-bound delete manifests
    * reference:
    *  - RAW (preferred): epochs ≤ v.epoch with every delete ≤ v.gen
    *    folded in file order. Valid only while no in-bound delete removed
    *    COMPACTION-generation paths — such removes cannot land on raw
    *    files, so the raw replay would silently resurrect the purged rows
    *    (and double-add the delete's rewritten survivors). Raw maximizes
    *    longevity: gc/tags pin per-epoch files.
    *  - GENERATION: the exact live composition ([[effectiveFileSets]]'
    *    algebra) over the BOUNDED inputs — compactions ≤ v.gen, epochs ≤
    *    v.epoch, deletes ≤ v.gen — which is what a live reader at that
    *    version actually served. Compaction files attribute to −1
    *    (compaction-generation data: per-epoch stream patching is
    *    impossible for them by construction, the same contract the DSv2
    *    lagging-stream guard enforces). Superseded generation files are
    *    gc-reclaimable, so these views fail the loud missing-file guard
    *    earlier than raw ones — correctness over longevity. */
  private def attributedViewAt(v: TableVersion,
                               forcePinned: Boolean = false): Seq[(Long, FileSet)] = {
    val snaps = rawSnapshots.collect {
      case (s, None) if s.epochId <= v.epoch => s
      case (s, Some(g)) if s.epochId <= v.epoch && g <= v.gen &&
        Files.exists(deletePath(g)) => s
    }
    val delsAt = deletes.filter(_.gen <= v.gen)
    // The generation branch is mandatory when an in-bound delete removed
    // compaction-generation paths (a raw replay cannot express those
    // removes — it would silently resurrect the purge), and preferred for
    // the CURRENT version (where it equals the live view by construction,
    // whose files exist by definition — the raw replay of the current
    // state can reference raw files gc already reclaimed, making e.g.
    // restore-to-current fail where it must no-op).
    val isCurrent = !forcePinned && v == currentVersion
    val genBranch = delsAt.exists(_.affectsCompacted) || isCurrent
    // checks shared by both replay bases: expiry coverage (a silently
    // truncated view is the same failure class as a resurrected purge, in
    // the other direction — epoch ids are allocated densely from 0 by
    // every engine write path, so coverage is countable) and on-disk
    // existence incl. deletion-vector sidecars (an entry whose vector is
    // gone would pass a data-path-only check and then fail deep inside a
    // read — or worse, after a restore COMMITTED it).
    def finish(view: Seq[(Long, FileSet)], replayReplaced: Set[Long],
               replayCoversExpired: Boolean): Seq[(Long, FileSet)] = {
      if (!isCurrent) expiryHorizon.foreach { h =>
        val bound = math.min(h, v.epoch)
        if (bound >= 0L && !replayCoversExpired) {
          val covered = snaps.map(_.epochId).toSet ++ replayReplaced
          val gone = (bound + 1L) - covered.count(_ <= bound)
          if (gone > 0L) throw new IllegalStateException(
            s"view at $v of $root is not reproducible: $gone epoch(s) at " +
              s"or below the expiry horizon ($h) have neither a surviving " +
              "snapshot manifest nor a covering compaction generation in " +
              "the replay base — their rows would be silently missing. " +
              "Tag versions to pin retention, or anchor at a version past " +
              "the horizon.")
        }
      }
      val missing = view.flatMap(_._2.files)
        .flatMap(f => f.path +: f.dvPath.toSeq)
        .filterNot(p => Files.exists(Paths.get(root, p)))
      if (missing.nonEmpty) throw new IllegalStateException(
        s"view at $v of $root is not reproducible: ${missing.size} data/" +
          s"vector file(s) were reclaimed by gc (first missing: ${missing.head})")
      view
    }
    def rawView(): Seq[(Long, FileSet)] = {
      val base: Seq[(Long, FileSet)] =
        snaps.map(s => s.epochId -> FileSet(s.numBuckets, s.files))
      finish(applyDeletesAttributed(base, delsAt), Set.empty,
        replayCoversExpired = false)
    }
    def genView(): Seq[(Long, FileSet)] = {
        // compaction gens and content gens are INDEPENDENT counters, so
        // "compactions before this version" cannot be read off the gen
        // number. A generation is usable as the replay base only while
        // the WHOLE CHAIN up to it is built from in-bound state: each
        // pass records only the epochs IT newly replaced and the delete
        // manifests still on disk when IT ran, so a single generation's
        // lists are not cumulative — one out-of-bound pass (replacing an
        // epoch > v.epoch or folding a gen > v.gen) poisons every later
        // generation's files even if that later pass's own lists look
        // in-bound (a full re-cluster records replaces = ∅). Hence: take
        // the longest in-bound PREFIX of the generation chain. A usable
        // generation committed later in wall time is still
        // content-identical by fold determinism.
        // For a historical token the prefix must be verifiable across
        // GAPS: expireMetadata may retire superseded manifests, and a
        // missing link's replaces/folds are not directly known. They are
        // BOUNDED, though — a retired compaction's replaced epochs were
        // all expired (≤ expiryHorizon) and every retired delete gen was
        // recorded into cdcGenHorizon — so a gap is provably in-bound
        // whenever both horizons sit within the token; otherwise the
        // prefix stops at the gap (trusting a later generation across an
        // unverifiable link is how purged rows resurrect). For the
        // CURRENT version the whole surviving chain is usable by
        // definition (the chosen latest generation IS the live base).
        val chain = compactions.sortBy(_.gen)
        val gapsOk = expiryHorizon.forall(_ <= v.epoch) &&
          cdcGenHorizon.forall(_ <= v.gen)
        val prefix =
          if (isCurrent) chain
          else chain.zipWithIndex.takeWhile { case (c, i) =>
            (c.gen == i.toLong || gapsOk) &&
              c.foldsDeletes.forall(_ <= v.gen) &&
              c.replaces.forall(_ <= v.epoch)
          }.map(_._1)
        // replaced/folded are the chain's UNION: the chosen generation's
        // files transitively contain everything the prefix replaced and
        // folded, and an expired delete manifest stays excluded via the
        // earlier pass that recorded its fold
        val replaced = prefix.flatMap(_.replaces).toSet
        val latest = prefix.lastOption
          .map(c => -1L -> FileSet(c.numBuckets, c.files)).toSeq
        val folded: Set[Long] = prefix.flatMap(_.foldsDeletes).toSet
        val base: Seq[(Long, FileSet)] = latest ++
          snaps.filterNot(s => replaced.contains(s.epochId))
            .map(s => s.epochId -> FileSet(s.numBuckets, s.files))
        finish(
          applyDeletesAttributed(base,
            delsAt.filterNot(d => folded.contains(d.gen))),
          replaced,
          // a gap crossed under gapsOk means retired links' replaced
          // (expired) epochs are inside the chain's later files even
          // though no surviving manifest lists them
          replayCoversExpired = prefix.zipWithIndex
            .exists { case (c, i) => c.gen != i.toLong })
      }
    if (genBranch) genView()
    // raw preferred for longevity (gc/tags pin per-epoch files), but a
    // raw replay can die on files gc reclaimed BEFORE the view was ever
    // needed (e.g. epochs compacted and collected pre-tag) while the
    // generation chain still serves the same content — fall back before
    // giving up
    else try rawView() catch {
      case raw: IllegalStateException =>
        try genView() catch {
          case gen: IllegalStateException =>
            // surface BOTH diagnoses — the generation error often names
            // the real remedy (horizon vs gc retention)
            raw.addSuppressed(gen); throw raw
        }
    }
  }

  /** [[applyDeletes]] with the source-epoch attribution kept — the same
    * ordered fold (each delete subtracts its removed paths from every
    * set, then appends its surviving rewritten files under the
    * `sourceEpoch` its manifest recorded) — plus a loud SELF-CHECK: every
    * removed path must actually be present in the reconstructed view when
    * its delete applies. A remove that lands on nothing means the replay
    * base is missing state (a generation manifest expired, or the caller
    * built an incoherent (epoch, gen) token by hand) and silently
    * skipping it is exactly the resurrect-purged-rows failure this
    * reconstruction exists to prevent. */
  private def applyDeletesAttributed(base: Seq[(Long, FileSet)],
                                     ds: Seq[DeleteMeta]): Seq[(Long, FileSet)] = {
    // presence maintained incrementally across the fold — rebuilding it
    // per manifest would make reconstruction O(manifests × view files)
    val present = base.iterator.flatMap(_._2.files.iterator.map(_.path))
      .to(scala.collection.mutable.HashSet)
    ds.sortBy(_.gen).foldLeft(base) { (sets, d) =>
      val rm = d.removes.toSet
      val miss = rm.filterNot(present)
      if (miss.nonEmpty) throw new IllegalStateException(
        s"version-pinned replay of $root cannot apply delete gen ${d.gen}: " +
          s"${miss.size} removed path(s) absent from the reconstructed " +
          s"view (first: ${miss.head}). Either the manifests this view " +
          "needs were expired (the state is no longer reproducible — tag " +
          "versions to pin them) or the (epoch, gen) token was built by " +
          "hand and is incoherent (use currentVersion/versionAtEpoch)")
      present --= rm
      d.fileSets.foreach(_.files.foreach(f => present += f.path))
      sets.map { case (e, fs) =>
        e -> fs.copy(files = fs.files.filterNot(f => rm.contains(f.path)))
      }.filter(_._2.files.nonEmpty) ++
        d.fileSets.map(dfs =>
          dfs.sourceEpoch -> FileSet(dfs.numBuckets, dfs.files))
          .filter(_._2.files.nonEmpty)
    }
  }

  /** Epochs the CDC feed serves as `insert` slices for the range
    * `(from, to]`: every raw snapshot in the epoch range that is VISIBLE at
    * `to` — a merge-pending epoch only once its activating gen committed
    * AND is inside the range's gen bound, so a merge's inserts and its
    * matched-row rewrites surface in the same feed step (the merge's
    * atomicity, preserved through the feed). */
  def feedEpochSnapshots(from: TableVersion, to: TableVersion): Seq[SnapshotMeta] = {
    val committedGens = deletes.map(_.gen).toSet
    rawSnapshots.collect {
      case (s, pending) if s.epochId > from.epoch && s.epochId <= to.epoch &&
        pending.forall(g => g <= to.gen && committedGens.contains(g)) => s
    }
  }

  /** Epoch `sn`'s file set as an incremental reader must see it: the raw
    * snapshot manifest patched by ALL delete manifests (folded ones too —
    * streams read per-epoch files, never compaction generations, so a
    * folded delete still rewrites the epoch's delta). A stream that plans
    * this epoch AFTER [[deleteWhere]] committed serves the post-delete
    * rows — a purged conversation cannot leak into a lagging consumer. */
  def epochFileSetsWithDeletes(sn: SnapshotMeta): Seq[FileSet] =
    applyDeletes(Seq(FileSet(sn.numBuckets, sn.files)), deletes,
      epochFilter = Some(sn.epochId))

  /** Fold the un-replaced epochs into one new compaction generation that
    * supersedes ALL earlier generations and the epochs it lists in
    * `replaces`. Readers atomically switch when the compaction manifest
    * lands; the old files stay on disk (time-travel / in-flight readers)
    * until [[gc]]. Incremental `readSince` callers must already be past the
    * replaced epochs.
    *
    * INCREMENTAL by default — the at-scale mode: the previous generation's
    * live files (post-delete: the prior compaction's files minus any later
    * delete's removes, plus its compaction-sourced rewrite survivors) are
    * REUSED VERBATIM in the new manifest — no byte rewritten, no footer
    * re-read, their recorded stats carry over — and only the un-replaced
    * epochs' current effective rows (exactly the per-epoch post-delete view
    * an incremental stream reads, [[epochFileSetsWithDeletes]]) are
    * rewritten into per-bucket files. Cost is proportional to the epochs
    * being folded, never the corpus: folding a day's micro-batches on a
    * 10^12-row table reads a day's rows (measured: CompactionBench).
    * Each incremental pass adds at most one sorted run per bucket;
    * `full = true` re-clusters everything into one file per bucket (the
    * periodic rewrite). Falls back to a full rewrite automatically when
    * reuse is not layout-safe: no prior generation, a different
    * `numBuckets`, or live files the reuse/rewrite split cannot attribute
    * (e.g. a [[restore]] re-added raw files of already-replaced epochs).
    *
    * Metadata note: a delete manifest whose compaction-sourced survivors
    * are reused stays retained by [[expireMetadata]] (its files are live
    * inside the new generation) — delete manifests accumulate across
    * incremental passes and retire after the periodic full rewrite + gc,
    * exactly like the sorted runs they patch. */
  def compact(spark: SparkSession, numBuckets: Int,
              sortCols: Seq[String] = Seq("conv_id", "turn_idx"),
              full: Boolean = false): Long = withMaintenanceLock {
    // metadata parsed ONCE per call: the accessors re-list + re-parse the
    // manifest JSON on every invocation, and the split below would
    // otherwise pay O(epochs-to-fold x delete-manifests) driver-side
    val comps = compactions
    val snaps = snapshots
    val dels = deletes
    val live = effectiveFileSets(comps, snaps, dels).flatMap(_.files)
    val replaced = {
      val done = comps.flatMap(_.replaces).toSet
      snaps.map(_.epochId).filterNot(done.contains)
    }
    val prior = comps.sortBy(_.gen).lastOption
    // nothing new to fold: no-op — except a `full` re-cluster of a view
    // that incremental passes (or deletes) left multi-run, which is the
    // documented periodic rewrite and proceeds with empty `replaces`.
    // "Clustered" means ONE file per bucket, not a file-count bound: a
    // table whose keys occupy few buckets can stack runs without ever
    // exceeding numBuckets files in total
    def alreadyClustered: Boolean = prior.exists { p =>
      p.numBuckets == numBuckets &&
        p.files.groupBy(_.partitionId).values.forall(_.size == 1) &&
        p.files.map(_.path).sorted == live.map(_.path).sorted &&
        // a deletion vector on a clustered file still needs the full
        // rewrite — folding vectors back into plain columnar files is
        // half the point of the periodic re-cluster
        live.forall(_.dvPath.isEmpty)
    }
    if (replaced.isEmpty && (!full || prior.isEmpty || alreadyClustered))
      return -1L
    val gen = comps.map(_.gen).foldLeft(-1L)(math.max) + 1

    // the reuse/rewrite split: prior generation's live files carried over
    // verbatim; un-replaced epochs' post-delete rows rewritten. Legal only
    // when it reproduces the effective view EXACTLY (checked by path set),
    // every reused set shares the target layout, and the prior generation
    // was bucketed the same way — anything else re-clusters fully.
    val (reuse: Seq[DataFileMeta], rewriteSrc: Seq[DataFileMeta]) = {
      val candidate = !full && prior.exists(_.numBuckets == numBuckets)
      if (!candidate) (Nil, live)
      else {
        val p = prior.get
        val folded = p.foldsDeletes.toSet
        val reuseSets = applyDeletes(Seq(FileSet(p.numBuckets, p.files)),
          dels.filterNot(d => folded.contains(d.gen)),
          epochFilter = Some(-1L))
        val replacedSet = comps.flatMap(_.replaces).toSet
        val epochFiles = snaps.filterNot(s => replacedSet.contains(s.epochId))
          .flatMap(sn => applyDeletes(Seq(FileSet(sn.numBuckets, sn.files)),
            dels, epochFilter = Some(sn.epochId)))
          .flatMap(_.files)
        val r = reuseSets.flatMap(_.files)
        // coverage compares (path, vector) identity: a path-only match
        // could reuse an entry whose vector state diverged from the live
        // view's (MOR deletes swap vectors without touching paths)
        val exact = reuseSets.forall(_.numBuckets == numBuckets) &&
          (r.map(f => (f.path, f.dvPath)) ++
            epochFiles.map(f => (f.path, f.dvPath))).sorted ==
            live.map(f => (f.path, f.dvPath)).sorted
        if (exact) (r, epochFiles) else (Nil, live)
      }
    }

    val staging = Paths.get(root, "_staging", s"compact-$gen")
    deleteRecursively(staging)
    val published =
      if (rewriteSrc.isEmpty) Nil
      else {
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        // readEntries: a DV'd source entry contributes its SURVIVORS, so
        // compaction FOLDS deletion vectors exactly like delete manifests
        // (the compacted output carries no dv); determinism holds because
        // the sortWithinPartitions key (conv_id, turn_idx) is unique
        readEntries(spark, fullReadSchema, rewriteSrc)
          .repartition(numBuckets, col("conv_id"))
          .sortWithinPartitions(sortCols.map(col): _*)
          .write.mode("overwrite").parquet(staging.toString)
        val staged = listDir(staging)(_.filter(_.getFileName.toString.endsWith(".parquet"))
          .toSeq.sortBy(_.getFileName.toString))
        staged.zipWithIndex.map { case (src, fallbackIdx) =>
          val idx = IcebergLite.taskPartitionId(src.getFileName.toString)
            .getOrElse(fallbackIdx)
          val name = f"part-c$gen%04d-$idx%05d.parquet"
          val dst = dataDir.resolve(name)
          claimFrom(src, dst,
            committed = Files.exists(metaDir.resolve(f"compact-$gen%06d.json")))
          Files.deleteIfExists(src)
          (dst, idx, s"data/$name")
        }
      }
    import scala.collection.parallel.CollectionConverters._
    val files = (published.par.map { case (dst, idx, rel) =>
      footerStats(dst, gen, idx, rel)
    }.toIndexedSeq ++ reuse).sortBy(_.partitionId)

    val m = new JHashMap[String, Object]()
    m.put("gen", java.lang.Long.valueOf(gen))
    m.put("numBuckets", Integer.valueOf(numBuckets))
    val rl: JList[Object] = new JArrayList[Object]()
    replaced.foreach(e => rl.add(java.lang.Long.valueOf(e)))
    m.put("replaces", rl)
    val fl: JList[Object] = new JArrayList[Object]()
    files.foreach(f => fl.add(fileJson(f)))
    m.put("files", fl)
    // every delete manifest present is reflected in the rows just
    // rewritten (compaction reads the post-delete effective view), so
    // record them as folded: the effective view must not re-apply them
    val dl: JList[Object] = new JArrayList[Object]()
    deletes.foreach(d => dl.add(java.lang.Long.valueOf(d.gen)))
    m.put("foldsDeletes", dl)
    atomicWrite(metaDir.resolve(f"compact-$gen%06d.json"), mapper.writeValueAsBytes(m))
    deleteRecursively(staging)
    gen
  }

  /** Committed view: union of effective files — staged or orphaned files
    * are invisible (the exactly-once reader contract). The declared schema
    * is passed explicitly (see [[fullReadSchemaAt]]): after an
    * [[addColumn]] the files mix schema versions and inference would be
    * nondeterministic; as a bonus no footer is opened at plan time. */
  def read(spark: SparkSession): DataFrame =
    readEntries(spark, fullReadSchema, effectiveFiles)

  /** DV-aware read of manifest entries under `schema` — THE row-read for
    * every view built from [[DataFileMeta]]s. Entries without a deletion
    * vector stream through the plain parquet fast path (bit-identical to
    * the pre-DV read); entries with one are read with parquet's file/row
    * metadata and LEFT-ANTI joined against their vectors' positions.
    *
    * Broadcast bound: each vector is small (per-file MOR threshold
    * `dvMaxFraction`), but the UNION across a view is not — a delete
    * matching 19% of every file in a 10^12-row table would collect
    * billions of positions onto the driver if hinted unconditionally. The
    * hint is applied only while the manifests' recorded total
    * (`dvRows`, exact) stays under `spark.sql.graft.dvBroadcastMaxRows`
    * (default 4M positions ≈ 32 MB of longs); above it — or when any
    * entry predates the dvRows field — the planner chooses from the
    * sidecars' real file sizes (a shuffled anti-join at the extreme,
    * which is the correct shape for vector volume that large). The `file`
    * column recorded inside each vector matches the manifest-relative
    * `data/<name>` (the data dir is flat), reconstructed from
    * `_metadata.file_path`'s last segment. */
  def readEntries(spark: SparkSession, schema: StructType,
                  entries: Seq[DataFileMeta]): DataFrame = {
    val (dv, plain) = entries.partition(_.dvPath.isDefined)
    def readPlain(fs: Seq[DataFileMeta]): DataFrame =
      if (fs.isEmpty) spark.read.schema(schema).parquet()
      else spark.read.schema(schema).parquet(fs.map(f => s"$root/${f.path}"): _*)
    if (dv.isEmpty) return readPlain(plain)
    val vectors0 = spark.read
      .parquet(dv.flatMap(_.dvPath).distinct.map(p => s"$root/$p"): _*)
      .select(col("file").as("__dv_file"), col("pos").as("__dv_pos"))
    val maxBcRows = spark.conf
      .get("spark.sql.graft.dvBroadcastMaxRows", "4194304").toLong
    val totalDvRows = dv.foldLeft(Option(0L)) {
      case (Some(acc), f) => f.dvRows.map(acc + _)
      case (None, _) => None
    }
    val vectors =
      if (totalDvRows.exists(_ <= maxBcRows)) broadcast(vectors0) else vectors0
    val masked = spark.read.schema(schema)
      .parquet(dv.map(f => s"$root/${f.path}"): _*)
      .withColumn("__graft_file",
        concat(lit("data/"),
          element_at(split(col("_metadata.file_path"), "/"), -1)))
      .withColumn("__graft_pos", col("_metadata.row_index"))
    val survivors = masked.join(vectors,
        masked("__graft_file") === vectors("__dv_file") &&
          masked("__graft_pos") === vectors("__dv_pos"), "left_anti")
      .select(schema.fieldNames.toSeq.map(col): _*)
    if (plain.isEmpty) survivors else readPlain(plain).unionAll(survivors)
  }

  /** Incremental scan: only epochs after `afterEpochId` (streaming-source
    * delta read over the snapshot log), with row-level deletes applied per
    * epoch ([[epochFileSetsWithDeletes]]). Exact only for `afterEpochId` at
    * or past the last compacted epoch. */
  def readSince(spark: SparkSession, afterEpochId: Long): DataFrame =
    readEntries(spark, fullReadSchema,
      snapshots.filter(_.epochId > afterEpochId)
        .flatMap(epochFileSetsWithDeletes).flatMap(_.files))

  /** Time-travel view: the file sets of every snapshot with
    * `epochId <= epoch`, each under its own recorded bucketing — the state
    * a reader at that epoch would have seen. `epoch` must be a COMMITTED
    * snapshot (the `VERSION AS OF` contract: versions are epoch ids; an
    * arbitrary in-between number is almost always a typo, so it fails
    * loudly rather than rounding down). Two ways a historical view can be
    * unreproducible, both loud:
    *  - the snapshot manifest was retired by [[expireMetadata]] (the epoch
    *    no longer lists as committed — the error cites the expiry horizon);
    *  - [[gc]] reclaimed data files of a superseded epoch (the manifest
    *    survives but its files do not).
    * Compaction alone does NOT break time travel: replaced epochs' files
    * stay on disk until gc, precisely for in-flight and historical
    * readers.
    *
    * Historical epochs serve the STATE THEY WERE COMMITTED IN: epochs
    * <= e with content gens <= e's recorded `maxGen` stamp applied (the
    * same anchor CDC and [[restore]] use). Pre-round-5 the historical
    * path served raw epochs with NO delete manifests at all, so rows a
    * mutation had removed BEFORE e's commit resurfaced in `AS OF e` the
    * moment a newer epoch landed — a pinned read changing under an
    * unrelated append. Now a historical read is invariant under later
    * commits whenever no mutation landed after e while e was still the
    * latest epoch; the one residual deviation is the deliberate fast path
    * above (`AS OF <latest>` = the live effective view, so it survives
    * compaction + gc), which folds mutations newer than e's commit into
    * e's read only while e IS the latest. Mutations committed after a
    * HISTORICAL e never show at e (delete rewrites the live view, not
    * history). */
  def fileSetsAsOf(epoch: Long): Seq[FileSet] = {
    val snaps = snapshots
    if (!snaps.exists(_.epochId == epoch)) {
      val horizon = expiryHorizon
        .map(h => s" (epochs <= $h were expired — their snapshots are gone)")
        .getOrElse("")
      throw new IllegalArgumentException(
        s"epoch $epoch is not a committed snapshot of $root$horizon; " +
          s"committed epochs: ${snaps.map(_.epochId).mkString("[", ", ", "]")}")
    }
    // AS OF the latest epoch == the live view by construction, so serve
    // the effective (possibly compacted) file sets — this keeps
    // `VERSION AS OF <latest>` working even after gc reclaimed the
    // pre-compaction per-epoch files
    if (epoch == snaps.last.epochId) return effectiveFileSets
    try attributedViewAt(versionAtEpoch(epoch)).map(_._2)
    catch {
      case e: IllegalStateException => throw new IllegalStateException(
        s"time-travel to epoch $epoch of $root is not reproducible: data " +
          s"file(s) of epochs <= $epoch were reclaimed by gc (${e.getMessage}). " +
          "Only epochs whose files survive the last gc are replayable; " +
          "raise gc retention (or tag the epoch) if historical reads must " +
          "reach further back.")
    }
  }

  /** Batch read of the table AS OF `epoch` (see [[fileSetsAsOf]]), under
    * the schema that epoch was committed with. */
  def readAsOf(spark: SparkSession, epoch: Long): DataFrame =
    readEntries(spark, fullReadSchemaAt(schemaVersionAt(epoch)),
      fileSetsAsOf(epoch).flatMap(_.files))

  /** Manifest-pruned file selection for an event-time range: only data
    * files whose [minTs, maxTs] stats overlap the range are touched — the
    * Iceberg-manifest analogue of the reference's listing-time predicate
    * (watermark_processor.py:235). At 10^12 rows this is the difference
    * between scanning a day and scanning the table.
    *
    * Returns RAW data paths, so it refuses (loudly) any range covering a
    * file that carries a deletion vector — a caller handing these paths
    * to `spark.read.parquet` would resurrect the MOR-deleted rows. Use
    * [[readRange]] (DV-aware rows) or fold vectors with [[compact]]. */
  def filesForRange(minTsMicros: Long, maxTsMicros: Long): Seq[String] = {
    val es = entriesForRange(minTsMicros, maxTsMicros)
    val dvd = es.filter(_.dvPath.isDefined)
    require(dvd.isEmpty,
      s"filesForRange returns raw data paths, but ${dvd.size} file(s) in " +
        s"range carry deletion vectors (e.g. ${dvd.head.path}) — reading " +
        "them directly would resurrect merge-on-read-deleted rows. Use " +
        "readRange (applies vectors) or compact() to fold them first.")
    es.map(f => s"$root/${f.path}")
  }

  /** ONE definition of the ts-range overlap rule, shared by
    * [[filesForRange]] and [[readRange]]. */
  private def entriesForRange(minTsMicros: Long, maxTsMicros: Long): Seq[DataFileMeta] =
    effectiveFiles
      .filter(f => f.maxTsMicros >= minTsMicros && f.minTsMicros <= maxTsMicros)

  /** Pruned scan: manifest file pruning + a residual row-level filter.
    * Bounds are built with [[org.apache.spark.sql.functions.timestamp_micros]]
    * — a millisecond `Timestamp` constructor would truncate the bounds and
    * silently include/exclude rows in the final partial millisecond of the
    * range with TIMESTAMP_MICROS data (manifest pruning is already exact). */
  def readRange(spark: SparkSession, minTsMicros: Long, maxTsMicros: Long): DataFrame =
    readEntries(spark, fullReadSchema, entriesForRange(minTsMicros, maxTsMicros))
      .filter(col("ts") >= timestamp_micros(lit(minTsMicros)) &&
        col("ts") <= timestamp_micros(lit(maxTsMicros)))

  // ---- incremental-reader registry (GC retention guard) --------------------

  private def readersDir = metaDir.resolve("readers")

  /** Register (or advance) an incremental reader's committed offset: the
    * reader has fully processed epochs ≤ `lastEpoch` and still needs every
    * epoch AFTER it. [[gc]] will never delete files of a replaced epoch
    * some registered reader still needs — turning the round-2 "callers must
    * ensure" comment into a mechanical guarantee. The DSv2 streaming source
    * registers itself on construction (offset −1) and advances on every
    * Spark epoch commit.
    *
    * Staleness: a registration has no automatic TTL — the engine cannot
    * distinguish a paused-but-live stream from an abandoned checkpoint, and
    * silently dropping a live reader's registration would let gc delete
    * epochs it still needs. Instead every call refreshes a `heartbeatMs`
    * liveness stamp; [[staleReaders]] surfaces registrations that stopped
    * heartbeating, and the documented admin override is: confirm the
    * checkpoint directory is gone, then [[unregisterReader]]. */
  def registerReader(readerId: String, lastEpoch: Long): Unit = {
    Files.createDirectories(readersDir)
    // monotonic: a restarted stream re-registers at −1 before its first
    // plan — that must not regress the durable offset a previous
    // incarnation already acknowledged (it would only over-retain, but
    // monotonicity keeps gc liveness deterministic). The heartbeat is
    // refreshed even when the offset does not advance.
    val prior = readerOffsets.getOrElse(readerId, Long.MinValue)
    val m = new JHashMap[String, Object]()
    m.put("epoch", java.lang.Long.valueOf(math.max(lastEpoch, prior)))
    m.put("heartbeatMs", java.lang.Long.valueOf(System.currentTimeMillis()))
    atomicReplace(readersDir.resolve(s"$readerId.json"), mapper.writeValueAsBytes(m))
  }

  /** Admin override for an abandoned checkpoint whose registration pins
    * retention (see [[registerReader]] staleness note and [[staleReaders]]).
    * Removing a LIVE reader's registration exposes it to gc — only call
    * after confirming its checkpoint no longer exists. */
  def unregisterReader(readerId: String): Unit =
    Files.deleteIfExists(readersDir.resolve(s"$readerId.json"))

  /** Registrations whose liveness heartbeat is older than `ttlMs` —
    * candidates for the [[unregisterReader]] workflow. Returns
    * readerId → ms since last heartbeat. Registrations written before the
    * heartbeat field existed report the full epoch-age (always stale). */
  def staleReaders(ttlMs: Long): Map[String, Long] = {
    if (!Files.exists(readersDir)) return Map.empty
    val now = System.currentTimeMillis()
    listDir(readersDir) {
      _.filter(_.getFileName.toString.endsWith(".json"))
        .map { p =>
          val id = p.getFileName.toString.stripSuffix(".json")
          val hb = Option(mapper.readTree(Files.readAllBytes(p)).get("heartbeatMs"))
            .map(_.asLong()).getOrElse(0L)
          id -> (now - hb)
        }.filter(_._2 > ttlMs).toMap
    }
  }

  /** Registered incremental readers and their last fully-processed epoch. */
  def readerOffsets: Map[String, Long] = {
    if (!Files.exists(readersDir)) return Map.empty
    listDir(readersDir) {
      _.filter(_.getFileName.toString.endsWith(".json"))
        .map { p =>
          val id = p.getFileName.toString.stripSuffix(".json")
          id -> mapper.readTree(Files.readAllBytes(p)).get("epoch").asLong()
        }.toMap
    }
  }

  /** GC of superseded data files (completes the compaction story — the
    * analogue of the reference deleting its temp file after the atomic
    * publish, watermark_processor.py:173-175): deletes files of compaction
    * generations older than the latest and of epochs replaced by any
    * generation. Metadata (snapshots/compaction manifests) is retained.
    *
    * Safety: only files that some compaction manifest has already
    * superseded are touched — never staged files, never files of a
    * published-but-uncommitted epoch — so a crashed/replayed writer is
    * unaffected and the call is idempotent. Lagging incremental readers are
    * protected mechanically: a replaced epoch's files are retained while
    * any [[registerReader registered reader]]'s committed offset is below
    * that epoch (snapshot-view readers are unaffected — they see the
    * compaction files). Returns the deleted relative paths. */
  def gc(): Seq[String] = withMaintenanceLock {
    val comps = compactions
    if (comps.isEmpty) return Nil
    val latest = comps.maxBy(_.gen).gen
    val replacedEpochs = comps.flatMap(_.replaces).toSet
    // min live epoch: the smallest epoch some registered reader has NOT yet
    // processed; replaced epochs at/above it must survive this gc pass
    val minLive = readerOffsets.values.minOption.map(_ + 1L)
    // rewritten survivors of deletes folded into a generation are
    // superseded by that generation's files — reclaimable once no lagging
    // incremental reader still needs the source epoch's patched delta
    // (gen-sourced rewrites, sourceEpoch −1, are never streamed)
    val foldedGens = comps.flatMap(_.foldsDeletes).toSet
    // tags pin history for THIS term too: a folded MOR entry's path IS the
    // original raw epoch file, and a tagged time-travel view at or above
    // its source epoch reconstructs from exactly those files (plus their
    // vectors and rewrite survivors). Gen-sourced sets (sourceEpoch −1)
    // have no comparable epoch, so any live tag conservatively pins them.
    val tagPinNow = maxTaggedEpoch
    val foldedDeleteFiles = deletes.filter(d => foldedGens.contains(d.gen))
      .flatMap(_.fileSets)
      .filter(fs => fs.sourceEpoch == -1L || minLive.forall(fs.sourceEpoch < _))
      .filter(fs => tagPinNow.isEmpty ||
        (fs.sourceEpoch != -1L && fs.sourceEpoch > tagPinNow.get))
      // a folded MOR entry's vector is superseded alongside its rewrites
      // (the fold baked the survivors into the compacted files)
      .flatMap(_.files.flatMap(f => f.path +: f.dvPath.toSeq))
    // never reclaim anything the live view still references — incl. the
    // deletion vectors of live MOR entries (an incremental compaction can
    // fold a gen while REUSING its DV'd entry verbatim; the vector must
    // survive with it)
    val live = effectiveFiles.flatMap(f => f.path +: f.dvPath.toSeq).toSet
    // tags pin GENERATION-branch reconstructions too: when a delete in a
    // tagged version's past removed compaction-generation paths, the
    // tagged view replays over the version-bounded generation
    // ([[attributedViewAt]]'s generation branch), so superseded
    // generation files it references must survive while the tag does —
    // the raw-epoch pin above cannot cover them. Manifest-scale work,
    // computed only when the combination can occur.
    // computed whenever tags AND generations exist: a tagged view can
    // depend on superseded generation files even with NO delete over
    // compacted data — the raw→generation fallback serves a tag whose
    // raw epoch files were reclaimed before the tag existed
    val tagKeep: Set[String] =
      if (tagPinNow.isEmpty) Set.empty
      else tags.values.toSet.flatMap { (e: Long) =>
        try attributedViewAt(versionAtEpoch(e))
          .flatMap(_._2.files.flatMap(f => f.path +: f.dvPath.toSeq))
        catch {
          // reconstruction failed — could be a view that was ALREADY
          // irreproducible before it was tagged, or a transient manifest
          // race. Reclaiming on failure would turn either into permanent
          // loss, so pin EVERY superseded generation file this pass
          // (conservative: the table keeps some reclaimable bytes until
          // the tag is dropped or the view reconstructs again)
          case _: IllegalStateException | _: IllegalArgumentException =>
            comps.filter(_.gen < latest)
              .flatMap(_.files.flatMap(f => f.path +: f.dvPath.toSeq))
        }
      }
    // tags pin history: a time-travel read of tagged epoch e reads the RAW
    // files of every epoch <= e, so none of them may be reclaimed while a
    // tag at or above them exists
    val tagPin = tagPinNow
    val doomed =
      comps.filter(_.gen < latest).flatMap(_.files.map(_.path)) ++
        snapshots.filter(s => replacedEpochs.contains(s.epochId) &&
            minLive.forall(s.epochId < _) &&
            tagPin.forall(s.epochId > _))
          .flatMap(_.files.map(_.path)) ++
        foldedDeleteFiles
    doomed.distinct.filterNot(live.contains).filterNot(tagKeep.contains)
      .flatMap { rel =>
        val p = Paths.get(root, rel)
        if (Files.deleteIfExists(p)) Some(rel) else None
      }
  }

  /** Orphan cleanup (the remove_orphan_files of the lifecycle): deletes
    * data files referenced by NO manifest — snapshot, compaction or delete
    * — plus settled `_staging/` leftovers. Orphans arise from the one
    * crash window the atomic protocol leaves on disk: files published by
    * [[stageAndPublish]] (or a compaction/delete rewrite) whose manifest
    * never landed. A retry under the SAME configuration reproduces
    * identical bytes and the first-writer-wins claim no-ops; a retry
    * under a CHANGED layout (e.g. a different bucket count) replaces the
    * overlapping names (the epoch is still uncommitted — nothing
    * references them) but cannot reach stale names outside its own
    * layout, which this cleanup reclaims.
    *
    * In-flight protection without wall clocks: an unreferenced file is
    * only deleted when its embedded id is at or below the newest COMMITTED
    * id of its kind (epoch / compaction gen / delete gen) — a concurrent
    * first-time commit always targets the next id up, so its
    * staged-then-published files are never touched; its own retry
    * protocol (identical-bytes claim on re-publish) makes deletion of
    * genuinely stale
    * files safe even under replay. Like [[compact]], concurrent
    * out-of-order writers are outside the maintenance contract.
    * Returns the deleted relative paths. */
  def removeOrphans(): Seq[String] = withMaintenanceLock {
    if (!Files.exists(dataDir)) return Nil
    val maxDelCommitted = deletes.map(_.gen).foldLeft(-1L)(math.max)
    // dead pending snapshots: a merge staged `pendingGen = g` but a LATER
    // rewrite generation committed without g ever landing — g can never
    // activate (gens are allocated monotonically under the maintenance
    // serialization contract), so the pending epoch and its files are
    // garbage. A pending snap whose gen is still above the committed max
    // may be an in-flight merge and is left alone (same no-clock rule as
    // the data-file cases below).
    val deadPending = rawSnapshots.collect {
      // WAP stages are excluded: an audit may legitimately out-live later
      // mutations (its reserved gen settling proves nothing) — a stage is
      // reclaimed only by explicit discardStaged
      case (s, Some(g)) if g <= maxDelCommitted &&
        !Files.exists(deletePath(g)) && !pendingStamp(s.epochId)._2 => s
    }
    val deletedPending = deadPending.flatMap { s =>
      val dataGone = s.files.flatMap { f =>
        val p = Paths.get(root, f.path)
        if (Files.deleteIfExists(p)) Some(f.path) else None
      }
      Files.deleteIfExists(snapPath(s.epochId))
      dataGone :+ f"metadata/snap-${s.epochId}%012d.json"
    }
    val referenced: Set[String] =
      (rawSnapshots.map(_._1).flatMap(_.files) ++ compactions.flatMap(_.files) ++
        deletes.flatMap(_.fileSets.flatMap(_.files)))
        .flatMap(f => f.path +: f.dvPath.toSeq).toSet
    val maxEpoch = snapshots.lastOption.map(_.epochId).getOrElse(-1L)
    val maxGen = compactions.map(_.gen).foldLeft(-1L)(math.max)
    val maxDel = deletes.map(_.gen).foldLeft(-1L)(math.max)
    val CompFile = """part-c(\d+)-\d+\.parquet""".r
    val DelFile = """part-d(\d+)-\d+\.parquet""".r
    val EpochFile = """part-(\d+)-\d+\.parquet""".r
    // deletion vectors follow the delete-rewrite settling rule; after
    // expireMetadata retired every manifest, the cdc gen horizon keeps the
    // bound truthful (same rule as change files)
    val DvFile = """dv-(\d+)-\d+\.parquet""".r
    val dvSettled = math.max(maxDel, cdcGenHorizon.getOrElse(-1L))
    val doomedData = listDir(dataDir)(
      _.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        .sortBy(_.getFileName.toString))
      .filter(p => !referenced.contains(s"data/${p.getFileName}"))
      .filter { p =>
        p.getFileName.toString match {
          case CompFile(g) => g.toLong <= maxGen
          case DelFile(g) => g.toLong <= maxDel
          case DvFile(g) => g.toLong <= dvSettled
          case EpochFile(e) => e.toLong <= maxEpoch
          case _ => true // not a name any writer of this table produces
        }
      }
    val deletedData = doomedData.flatMap { p =>
      val rel = s"data/${p.getFileName}"
      if (Files.deleteIfExists(p)) Some(rel) else None
    }
    // orphaned CDC change files: published by a mutation whose manifest
    // never landed (the one crash window), or left by a crashed expiry.
    // Same no-clock in-flight rule as data files: only settled gens.
    val referencedChanges =
      deletes.flatMap(_.changeFiles.getOrElse(Nil)).map(_.path).toSet
    val CdcFile = """cdc-(\d+)-\d+\.parquet""".r
    val cdcSettled = math.max(maxDelCommitted, cdcGenHorizon.getOrElse(-1L))
    val deletedChanges =
      if (!Files.exists(changesDir)) Nil
      else listDir(changesDir)(
        _.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
          .sortBy(_.getFileName.toString))
        .filter(p => !referencedChanges.contains(s"changes/${p.getFileName}"))
        .filter(p => p.getFileName.toString match {
          case CdcFile(g) => g.toLong <= cdcSettled
          case _ => true
        })
        .flatMap { p =>
          val rel = s"changes/${p.getFileName}"
          if (Files.deleteIfExists(p)) Some(rel) else None
        }
    // settled staging dirs: their commit landed (or their id is settled),
    // so nothing will come back for the leftovers
    val stagingRoot = Paths.get(root, "_staging")
    val CompDir = """compact-(\d+)""".r
    val DelDir = """delete-(\d+)""".r
    val MergeDir = """merge-(\d+)""".r
    val EpochDir = """ep-(\d+)""".r
    val deletedStaging =
      if (!Files.exists(stagingRoot)) Nil
      else listDir(stagingRoot)(_.toSeq.sortBy(_.getFileName.toString))
        .filter { d =>
          d.getFileName.toString match {
            case EpochDir(e) => isCommitted(e.toLong)
            case CompDir(g) => g.toLong <= maxGen
            case DelDir(g) => g.toLong <= maxDel
            case MergeDir(g) => g.toLong <= maxDel
            case _ => false
          }
        }
        .map { d => deleteRecursively(d); s"_staging/${d.getFileName}" }
    deletedPending ++ deletedData ++ deletedChanges ++ deletedStaging
  }

  /** Metadata expiry (completes [[gc]]: gc deletes superseded DATA files,
    * this retires the snapshot/compaction MANIFESTS that only described
    * them — without it the metadata dir grows one JSON per epoch forever,
    * which at 10^12-turn scale is a listing bottleneck in its own right).
    *
    * A replaced epoch's snapshot is deleted only when ALL of:
    *  - a compaction generation replaced it (the effective view no longer
    *    reads it);
    *  - its data files are already gone from disk (gc ran) — the snapshot
    *    is the idempotent-commit marker ([[isCommitted]]), so it must
    *    outlive anything a replaying writer could re-publish;
    *  - every registered incremental reader is past it (same horizon gc
    *    uses);
    *  - it is not among the newest `retainLast` epochs — the replay window:
    *    a restarted writer can only replay epochs its checkpoint retains
    *    (`minBatchesToRetain`), so `retainLast` ≥ that bound keeps
    *    idempotency intact while everything older is settled history.
    *
    * A superseded compaction manifest (gen < latest) is deleted only after
    * every epoch in its `replaces` list has lost its snapshot — deleting it
    * earlier would "un-replace" those epochs in [[effectiveFileSets]] and
    * double-count their rows. Each deletion is individually safe, so a
    * crash mid-expiry leaves a consistent table and the call is idempotent.
    * Returns deleted metadata file names. */
  def expireMetadata(retainLast: Int = 8): Seq[String] = withMaintenanceLock {
    // PROMOTE activated merge-insert epochs FIRST (before any early
    // return or manifest retirement): a pending snapshot is visible only
    // while its activating delete-<g>.json exists, so expiring that
    // manifest un-promoted would silently DE-COMMIT the insert epoch
    // (snapshots() would hide it again — lagging streams skip its rows,
    // time travel loses them). Rewriting the snapshot without
    // `pendingGen` makes it unconditionally committed; idempotent and
    // crash-safe (visibility is identical before and after while the
    // manifest exists).
    // keyed on the pendingGen stamp, not the manifest's activatesEpoch
    // field: a branch fast-forward activates MANY epochs with one
    // manifest, and every one must promote
    locally {
      val activated = deletes.map(_.gen).toSet
      rawSnapshots.foreach {
        case (s, Some(g)) if activated.contains(g) =>
          val p = snapPath(s.epochId)
          if (Files.exists(p)) {
            val node = mapper.readTree(Files.readAllBytes(p))
            if (node.has("pendingGen")) {
              node.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
                .remove("pendingGen")
              atomicReplace(p, mapper.writeValueAsBytes(node))
            }
          }
        case _ =>
      }
    }
    val comps = compactions
    if (comps.isEmpty) return Nil
    val latestGen = comps.maxBy(_.gen).gen
    val replacedEpochs = comps.flatMap(_.replaces).toSet
    val snaps = snapshots
    val minLive = readerOffsets.values.minOption.map(_ + 1L)
    val retainFrom = snaps.map(_.epochId).sorted.takeRight(retainLast)
      .headOption.getOrElse(Long.MaxValue)
    // tags pin manifests too: resolving VERSION AS OF a tagged epoch e
    // enumerates the snapshot manifests of every epoch <= e
    val tagPin = maxTaggedEpoch
    val expirable = snaps.filter { s =>
      replacedEpochs.contains(s.epochId) &&
        s.epochId < retainFrom &&
        minLive.forall(s.epochId < _) &&
        tagPin.forall(s.epochId > _) &&
        s.files.forall(f => !Files.exists(Paths.get(root, f.path)))
    }
    val deletedSnaps = expirable.flatMap { s =>
      val p = snapPath(s.epochId)
      if (Files.deleteIfExists(p)) Some(p.getFileName.toString) else None
    }
    // record the horizon BEFORE returning: new incremental readers starting
    // below it must fail loudly instead of silently skipping the expired
    // history (round-3 ADVICE — expiry used to change new-reader semantics
    // silently). Recorded even on partial failure above: each snapshot
    // deletion is individually safe and the horizon is monotonic.
    if (expirable.nonEmpty) recordExpiryHorizon(expirable.map(_.epochId).max)
    // a superseded generation can retire once nothing it replaces is
    // visible — and NO TAG exists: a tagged version's reconstruction may
    // replay over a superseded generation ([[attributedViewAt]]'s
    // generation branch) and needs the manifest's replaces/foldsDeletes
    // chain intact (each pass records only what IT saw, so retiring one
    // link would let a later generation qualify for a version it is not
    // in-bound for). Compaction manifests are metadata-scale; holding
    // them while a tag lives is the cheap side of the retention contract.
    val liveEpochs = snapshots.map(_.epochId).toSet
    val deletedComps = comps
      .filter(c => tagPin.isEmpty && c.gen < latestGen &&
        c.replaces.forall(!liveEpochs.contains(_)))
      .flatMap { c =>
        val p = metaDir.resolve(f"compact-${c.gen}%06d.json")
        if (Files.deleteIfExists(p)) Some(p.getFileName.toString) else None
      }
    // a folded delete manifest can retire once it patches nothing a reader
    // could still plan: its survivors are gone (gc ran), the originals it
    // removed are gone, and every source epoch's snapshot is expired —
    // earlier removal would un-patch those epochs for lagging streams and
    // replay purged rows
    val foldedGens = comps.flatMap(_.foldsDeletes).toSet
    val deletedDels = deletes
      .filter { d =>
        foldedGens.contains(d.gen) &&
          d.fileSets.forall(fs => fs.sourceEpoch == -1L ||
            !liveEpochs.contains(fs.sourceEpoch)) &&
          d.fileSets.forall(_.files.forall(f =>
            !Files.exists(Paths.get(root, f.path)))) &&
          d.removes.forall(p => !Files.exists(Paths.get(root, p)))
      }
      .flatMap { d =>
        // the recorded CDC rows retire WITH the manifest that references
        // them — and the gen horizon is recorded FIRST, so a feed reader
        // whose offset predates this gen fails loudly instead of silently
        // skipping the mutation (same contract as the epoch expiry horizon)
        recordCdcGenHorizon(d.gen)
        d.changeFiles.getOrElse(Nil).foreach(cf =>
          Files.deleteIfExists(Paths.get(root, cf.path)))
        val p = deletePath(d.gen)
        if (Files.deleteIfExists(p)) Some(p.getFileName.toString) else None
      }
    deletedSnaps ++ deletedComps ++ deletedDels
  }

  /** CDC-feed floor: the highest CONTENT gen whose delete manifest (and
    * recorded change files) [[expireMetadata]] has retired. A change-feed
    * reader whose gen offset is below this cannot be served without
    * silently skipping mutations — it fails loudly instead. `None` until
    * the first retirement. */
  def cdcGenHorizon: Option[Long] =
    Option(mapper.readTree(Files.readAllBytes(metaDir.resolve("table.json")))
      .get("cdcGenHorizon")).map(_.asLong())

  /** Monotonic RMW on table.json's `cdcGenHorizon` (same cross-process
    * contract as [[recordExpiryHorizon]]). */
  private[table] def recordCdcGenHorizon(gen: Long): Unit =
    lockedTableJsonUpdate { t =>
      val prior = Option(t.get("cdcGenHorizon")).map(_.asLong()).getOrElse(Long.MinValue)
      if (gen > prior) { t.put("cdcGenHorizon", gen); true }
      else false
    }

  /** Streaming-history floor: the highest epoch whose snapshot
    * [[expireMetadata]] has retired. Epochs ≤ horizon are unreplayable —
    * their data files are gc'd and their manifests gone — so an incremental
    * reader whose offset is below the horizon cannot be served without
    * silently skipping history; the DSv2 source fails loudly instead
    * (opt-in skip via its `startAtExpiryHorizon` option). `None` until the
    * first expiry. */
  def expiryHorizon: Option[Long] =
    Option(mapper.readTree(Files.readAllBytes(metaDir.resolve("table.json")))
      .get("expiryHorizon")).map(_.asLong())

  /** Monotonic read-modify-write on table.json's `expiryHorizon`. Two
    * processes (or two instances) running [[expireMetadata]] could
    * interleave read→write so a stale reader rolls the horizon back —
    * weakening the new-reader fail-loud contract (round-4 ADVICE); the RMW
    * runs under [[lockedTableJsonUpdate]]. */
  private[table] def recordExpiryHorizon(epoch: Long): Unit =
    lockedTableJsonUpdate { t =>
      val prior = Option(t.get("expiryHorizon")).map(_.asLong()).getOrElse(Long.MinValue)
      if (epoch > prior) { t.put("expiryHorizon", epoch); true }
      else false
    }

  /** Serialized read-modify-write on table.json (expiry horizon, schema
    * evolution): re-read INSIDE the lock, mutate the tree, write back iff
    * `f` returns true. The lock is an OS-level file lock on a sidecar
    * (`table.json.lock` — locking table.json itself would race the atomic
    * rename in [[atomicReplace]]), with [[IcebergLite.tableJsonLock]]
    * serializing same-JVM callers first. */
  private def lockedTableJsonUpdate(
      f: com.fasterxml.jackson.databind.node.ObjectNode => Boolean): Unit =
      IcebergLite.tableJsonLock.synchronized {
    val p = metaDir.resolve("table.json")
    val lockPath = metaDir.resolve("table.json.lock")
    val ch = java.nio.channels.FileChannel.open(lockPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val lock = ch.lock() // blocks until any concurrent updater releases
      try {
        val t = mapper.readTree(Files.readAllBytes(p))
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        if (f(t)) atomicReplace(p, mapper.writeValueAsBytes(t))
      } finally lock.release()
    } finally ch.close()
  }

  /** Row-count per partition across epochs — per-partition lineage metrics
    * (progress accounting analogue, watermark_processor.py:162-163,257-258). */
  def partitionMetrics: Map[Int, Long] =
    effectiveFiles.groupBy(_.partitionId)
      .map { case (p, fs) => p -> fs.map(_.rowCount).sum }

  // ---- internals -----------------------------------------------------------

  private def footerStats(p: Path, epochId: Long, idx: Int, rel: String): DataFileMeta = {
    val in = HadoopInputFile.fromPath(new HPath(p.toUri), IcebergLite.hadoopConf)
    val reader = ParquetFileReader.open(in)
    try {
      val md = reader.getFooter
      var rows = 0L
      var minTs = Long.MaxValue
      var maxTs = Long.MinValue
      // conv_id bounds (unsigned-byte UTF8 order, the stats' own
      // comparator): valid only if EVERY row group carries them — a single
      // stats-less group means unknown rows, so no bounds are recorded
      var convMin: org.apache.parquet.io.api.Binary = null
      var convMax: org.apache.parquet.io.api.Binary = null
      var convBlocks = 0
      var convNulls = 0L
      var convNullBlocks = 0
      md.getBlocks.asScala.foreach { b =>
        rows += b.getRowCount
        b.getColumns.asScala.find(_.getPath.toDotString == "ts").foreach { c =>
          val st = c.getStatistics
          if (st != null && !st.isEmpty) {
            st.genericGetMin match {
              case l: java.lang.Long =>
                if (l < minTs) minTs = l
              case _ =>
            }
            st.genericGetMax match {
              case l: java.lang.Long =>
                if (l > maxTs) maxTs = l
              case _ =>
            }
          }
        }
        b.getColumns.asScala.find(_.getPath.toDotString == "conv_id").foreach { c =>
          c.getStatistics match {
            case st if st != null && st.isNumNullsSet =>
              convNulls += st.getNumNulls
              convNullBlocks += 1
            case _ =>
          }
          c.getStatistics match {
            // hasNonNullValue, NOT !isEmpty: an all-null row group has
            // stats (numNulls set, so !isEmpty) but null min/max — the
            // comparator would NPE on it
            case bs: org.apache.parquet.column.statistics.BinaryStatistics
                if bs.hasNonNullValue =>
              val cmp = bs.comparator()
                .asInstanceOf[java.util.Comparator[org.apache.parquet.io.api.Binary]]
              val mn = bs.genericGetMin
              val mx = bs.genericGetMax
              if (convMin == null || cmp.compare(mn, convMin) < 0) convMin = mn
              if (convMax == null || cmp.compare(mx, convMax) > 0) convMax = mx
              convBlocks += 1
            case bs: org.apache.parquet.column.statistics.BinaryStatistics
                if !bs.isEmpty =>
              // all-null group: contributes no values, and a NULL conv_id
              // matches no equality/range/IN predicate, so the other
              // groups' bounds remain a valid necessary condition — count
              // the group as covered rather than dropping the file's bounds
              convBlocks += 1
            case _ =>
          }
        }
      }
      if (minTs == Long.MaxValue) { minTs = 0L; maxTs = 0L }
      val boundsOk = convBlocks == md.getBlocks.size() && convMin != null
      DataFileMeta(rel, idx, rows, minTs, maxTs,
        if (boundsOk) Some(convMin.toStringUsingUTF8) else None,
        if (boundsOk) Some(convMax.toStringUsingUTF8) else None,
        // on-disk bytes for the connector's SupportsReportStatistics —
        // one stat call on a file already open for its footer
        Files.size(p),
        // exact conv_id null count, only when EVERY row group recorded one
        if (convNullBlocks == md.getBlocks.size()) Some(convNulls) else None)
    } finally reader.close()
  }

  /** Atomic overwrite (reader-offset files advance in place). */
  private def atomicReplace(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling("." + target.getFileName + ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** First-writer-wins atomic manifest publication. `Files.move` with
    * ATOMIC_MOVE maps to rename(2), which silently REPLACES an existing
    * target on POSIX — so the earlier move-based form was last-writer-wins
    * and a commit race overwrote the first manifest without a trace.
    * `createLink` is atomic AND fails on existence, making the commit
    * point a true compare-and-claim: losing the race is tolerated only
    * when the winner wrote byte-identical content (a deterministic
    * replayed commit); a NON-IDENTICAL winner — e.g. a stream epoch
    * racing a merge insert epoch for one id — fails loudly instead of
    * silently dropping one side's data while both report success. */
  private def atomicWrite(target: Path, bytes: Array[Byte]): Unit = {
    // unique tmp per attempt: two racing writers sharing one tmp name
    // could interleave write/link and publish mixed bytes
    val tmp = target.resolveSibling(
      "." + target.getFileName + "." + java.util.UUID.randomUUID + ".tmp")
    Files.write(tmp, bytes)
    try claimFrom(tmp, target)
    finally Files.deleteIfExists(tmp) // also sweeps the loser/error cases
  }

  /** Atomic first-writer-wins claim of `dst` with `src`'s content
    * (hard link: atomic AND fails on existence — rename(2) silently
    * replaces). On a lost race:
    *  - identical bytes → tolerated (a deterministic replayed commit
    *    reproduces them exactly);
    *  - non-identical AND `committed` → fail loudly (the id belongs to a
    *    published commit; replacing it would corrupt what its manifest
    *    describes);
    *  - non-identical and NOT committed → replace (the leftover is a
    *    crashed attempt of this same id — e.g. an epoch staged under a
    *    different bucket count whose snapshot never landed — and nothing
    *    references it).
    * On filesystems without hard links, falls back to rename — the
    * pre-round-5 last-writer-wins semantics on such mounts, traded for
    * still working at all. The caller owns deleting `src`. */
  private def claimFrom(src: Path, dst: Path,
                        committed: => Boolean = true): Unit =
    try {
      Files.createLink(dst, src)
      ()
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        if (Files.mismatch(dst, src) != -1L) {
          if (committed)
            throw new IllegalStateException(
              s"lost a commit race on ${dst.getFileName} to a " +
                "NON-IDENTICAL concurrent writer — this id was claimed by " +
                "another commit with different content; the losing write " +
                "was NOT applied")
          Files.move(src, dst, StandardCopyOption.REPLACE_EXISTING,
            StandardCopyOption.ATOMIC_MOVE)
          ()
        }
      case _: UnsupportedOperationException =>
        Files.move(src, dst, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
        ()
      // link(2) failures on no-hardlink mounts surface as
      // FileSystemException (EPERM/ENOTSUP), not UnsupportedOperation;
      // fall back to rename there too — a genuine I/O error (ENOSPC,
      // EACCES) rethrows from the move itself
      case _: java.nio.file.FileSystemException =>
        Files.move(src, dst, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
        ()
    }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
      finally s.close()
    }
  }
}

/** One data file's manifest entry. `convIdMin`/`convIdMax` (round 5) are
  * the file's conv_id bounds from the parquet footer's column-chunk stats
  * — recorded only when every row group carries them, absent on
  * pre-round-5 manifests (None = no intra-bucket pruning, never wrong).
  * Bounds compare in UNSIGNED byte order (parquet's UTF8 comparator ==
  * `UTF8String.compareTo`), and survive truncated footer stats safely:
  * a truncated min is a prefix (≤ true min), a truncated max is
  * prefix-incremented (≥ true max) — conservative in both directions. */
final case class DataFileMeta(path: String, partitionId: Int, rowCount: Long,
                              minTsMicros: Long, maxTsMicros: Long,
                              convIdMin: Option[String] = None,
                              convIdMax: Option[String] = None,
                              sizeBytes: Long = -1L,
                              // conv_id null count from footer stats (None
                              // when any row group left numNulls unset, or
                              // on pre-round-5 manifests). Consumed by the
                              // scan's ordering report: a file whose nulls
                              // sort mid-run breaks (conv_id, turn_idx)
                              // concatenation order
                              convIdNulls: Option[Long] = None,
                              // merge-on-read DELETION VECTOR (round-5
                              // session 6): relative path of a parquet
                              // sidecar listing this file's DELETED row
                              // positions (original-file row indexes,
                              // columns `file`/`pos`). When set, rowCount
                              // is the SURVIVOR count (exact, from the
                              // probe) and ts/conv bounds are the ORIGINAL
                              // file's — conservative for pruning, which is
                              // why MIN/MAX metadata answers must decline
                              // over DV'd entries
                              dvPath: Option[String] = None,
                              // rows in the vector (cumulative across
                              // chained MOR deletes; known exactly from
                              // the probe counts). Lets readers bound the
                              // TOTAL vector volume of a view before
                              // choosing a broadcast: per-file vectors
                              // are capped by dvMaxFraction, but the sum
                              // across a large view is not. None only on
                              // manifests written before this field
                              // existed — treated as unknown (no
                              // broadcast hint)
                              dvRows: Option[Long] = None)
final case class SnapshotMeta(queryId: String, epochId: Long,
                              files: Seq[DataFileMeta], numBuckets: Int = -1,
                              schemaVersion: Int = 1, maxGen: Long = 0L)

/** A full table-state token for CDC: the epoch high-water mark AND the
  * CONTENT-mutation gen high-water mark (DELETE/UPDATE/MERGE rewrite
  * generations; compaction is layout-only and deliberately not part of the
  * token). Epochs and gens advance on independent counters with no
  * recorded wall-clock between them — an epoch id alone does not pin a
  * state. Capture with [[IcebergLite.currentVersion]]; resolve an epoch id
  * to the state it was freshly committed in with
  * [[IcebergLite.versionAtEpoch]] (the snapshot's `maxGen` stamp). */
final case class TableVersion(epoch: Long, gen: Long) {
  require(epoch >= -1 && gen >= 0, s"invalid table version ($epoch, $gen)")
}
final case class CompactionMeta(gen: Long, replaces: Seq[Long],
                                files: Seq[DataFileMeta], numBuckets: Int = -1,
                                foldsDeletes: Seq[Long] = Nil)

/** Surviving rewritten files of one source file-set touched by a delete:
  * `sourceEpoch` is the epoch whose delta these rows belong to (−1 when the
  * source was compaction-generation data — un-patchable for streams). */
final case class DeleteFileSet(numBuckets: Int, sourceEpoch: Long,
                               files: Seq[DataFileMeta])

/** One committed [[IcebergLite.deleteWhere]]: subtract `removes` from the
  * view, add the rewritten survivors in `fileSets`. */
/** WHEN MATCHED action of [[IcebergLite.merge]]: replace all (or the
  * listed) non-key, non-lineage columns with the source row's same-name
  * values, or delete the matched target row. Key columns in
  * [[MergeUpdateCols]] are ignored — under the ON equality they are
  * identity assignments. */
sealed trait MergeMatched
case object MergeUpdateAll extends MergeMatched
final case class MergeUpdateCols(cols: Seq[String]) extends MergeMatched
case object MergeDeleteMatched extends MergeMatched

/** [[IcebergLite.merge]] outcome: matched target rows (updated or
  * deleted), inserted source rows, and the activated insert epoch. */
final case class MergeStats(matched: Long, inserted: Long,
                            insertEpoch: Option[Long])

final case class DeleteMeta(gen: Long, predicate: String,
                            removes: Seq[String],
                            fileSets: Seq[DeleteFileSet],
                            affectsCompacted: Boolean,
                            activatesEpoch: Option[Long] = None,
                            changeFiles: Option[Seq[ChangeFileMeta]] = None,
                            op: Option[String] = None)

/** [[IcebergLite.restore]] outcome: the published gen (−1 = the live view
  * already matched the target, nothing committed), the manifest-level
  * churn, and the recorded CDC row count. */
final case class RestoreStats(gen: Long, removedFiles: Int,
                              restoredFiles: Int, changeRows: Long)

/** One recorded change-data file (`changes/cdc-<gen>-<idx>.parquet`): the
  * full read schema plus a baked-in `_change_type` column. Written at
  * mutation commit time (the batched CDC write in `rewriteWhere`/`merge`) so the CDC
  * feed is pure file scans — rowCount is exact, for feed-side task
  * packing without opening the file. */
final case class ChangeFileMeta(path: String, rowCount: Long)

/** A group of data files that share one bucketing layout (`numBuckets` = −1
  * when the manifest predates bucket recording → conv_id pruning disabled
  * for that set, ts pruning still applies). */
final case class FileSet(numBuckets: Int, files: Seq[DataFileMeta])

object IcebergLite {
  /** One shared Hadoop conf for footer reads: `new Configuration()` parses
    * the XML default resources every call — measurable when every epoch
    * commit reads one footer per bucket (round-6). Footer reads never
    * depend on per-table settings. */
  private[table] lazy val hadoopConf = new Configuration()

  private val maintenanceMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private val maintenanceHeld: ThreadLocal[java.util.HashSet[String]] =
    ThreadLocal.withInitial(() => new java.util.HashSet[String]())

  private val TaskFilePattern = """part-(\d+)-.*""".r

  /** JVM-wide monitor for table.json RMWs (expiry horizon, schema
    * evolution): `FileChannel.lock` throws
    * `OverlappingFileLockException` (instead of blocking) when the SAME JVM
    * already holds the lock through another instance, so in-process callers
    * serialize here first and the file lock only arbitrates across
    * processes. These writes are rare (one per expireMetadata/addColumn),
    * so one global monitor is enough. */
  private[table] val tableJsonLock = new Object

  /** Shuffle-partition index from a Spark task output file name. */
  def taskPartitionId(fileName: String): Option[Int] = fileName match {
    case TaskFilePattern(d) => Some(d.toInt)
    case _ => None
  }

  /** Test observability hook ONLY: records whether the most recent
    * `stageAndPublish` trusted a pre-arranged plan or arranged the rows
    * itself. Never read by engine code — specs pin the CURRENT contract
    * (Spark does not arrange V1-fallback batch writes, so the engine must;
    * a silently-true detection there would write unbucketed files and
    * break manifest pruning). */
  @volatile private[graft] var lastStageArranged: Boolean = false

  /** The canonical physical-layout rules shared by every write path (batch
    * `stageAndPublish`, the DSv2 streaming write's required distribution,
    * compaction): bucket by `conv_id` when present else the first column;
    * sort by `(conv_id, turn_idx)` when present else every column. One
    * definition — a drift between the batch and streaming layouts would
    * silently break manifest bucket pruning. */
  def bucketColsFor(cols: Seq[String]): Seq[String] =
    if (cols.contains("conv_id")) Seq("conv_id") else cols.take(1)

  def sortColsFor(cols: Seq[String]): Seq[String] = {
    val preferred = Seq("conv_id", "turn_idx").filter(cols.contains)
    if (preferred.nonEmpty) preferred else cols
  }

  /** The bucket `repartition(numBuckets, col("conv_id"))` routes `convId`
    * to — computed with the exact expression `HashPartitioning` uses
    * (Murmur3 seed 42, pmod), so manifest-level bucket pruning agrees with
    * the writer's physical layout by construction. */
  def bucketOf(convId: String, numBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit, Murmur3Hash}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val h = new Murmur3Hash(Seq(CLit(UTF8String.fromString(convId), StringType)))
      .eval(null).asInstanceOf[Int]
    ((h % numBuckets) + numBuckets) % numBuckets
  }

  /** Manifest-level pruning shared by the DSv2 batch and streaming scans:
    * keep a file iff its [minTs, maxTs] stats overlap the ts bounds AND
    * (when the set's bucketing is known) its partition id matches the
    * bucket of the conv_id equality predicate. */
  def pruneFileSets(sets: Seq[FileSet], minTsMicros: Option[Long],
                    maxTsMicros: Option[Long], convIdEq: Option[String]): Seq[DataFileMeta] =
    sets.flatMap { fs =>
      val byBucket = convIdEq match {
        case Some(c) =>
          val routed =
            if (fs.numBuckets > 0) {
              val b = bucketOf(c, fs.numBuckets)
              fs.files.filter(_.partitionId == b)
            } else fs.files
          // intra-bucket bounds pruning: a file whose manifest conv_id
          // range excludes the literal (unsigned byte order, matching the
          // parquet UTF8 comparator the bounds came from) cannot contain
          // it. Absent bounds (pre-round-5 manifests) admit everything.
          val u = org.apache.spark.unsafe.types.UTF8String.fromString(c)
          routed.filter { f =>
            f.convIdMin.forall(mn =>
              u.compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(mn)) >= 0) &&
            f.convIdMax.forall(mx =>
              u.compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(mx)) <= 0)
          }
        case _ => fs.files
      }
      byBucket.filter { f =>
        minTsMicros.forall(f.maxTsMicros >= _) && maxTsMicros.forall(f.minTsMicros <= _)
      }
    }
}
