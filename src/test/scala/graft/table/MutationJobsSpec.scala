package graft.table

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The batching invariant of the mutation pipeline: copy-on-write DELETE,
  * MOR DELETE, UPDATE and MERGE each run a fixed number of Spark jobs (one
  * probe, one write per output kind), so the job count of a mutation does
  * not grow with the number of files it matches. */
class MutationJobsSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1767225600L * 1000000L // micros
  private val convs = (0 until 64).map(c => s"conv$c")
  /** one conversation per bucket of the 8-bucket layout */
  private lazy val convPerBucket: IndexedSeq[String] = {
    val byBucket = convs.groupBy(IcebergLite.bucketOf(_, 8))
    assert(byBucket.keySet === (0 until 8).toSet)
    (0 until 8).map(b => byBucket(b).head)
  }

  /** 1 epoch × 64 convs × 10 turns over 8 buckets: 8 files of ~80 rows. */
  private def buildTable(): IcebergLite = {
    val t = new IcebergLite(tmpDir("mut-jobs"))
    t.create("conv_id string, turn_idx int, role string, ts timestamp", 8)
    val rows = for (c <- convs.indices; i <- 0 until 10) yield
      (convs(c), i, "user", new java.sql.Timestamp((base + c * 1000000L + i) / 1000L))
    assert(t.commitEpoch(rows.toDF("conv_id", "turn_idx", "role", "ts"), "w", 0L, 8))
    assert(t.effectiveFiles.size === 8)
    t
  }

  /** Jobs `body` submits, counted by a listener over the job group. A fence
    * job in its own group runs last: the listener bus delivers events in
    * order, so once the fence is seen every job of `body` has been seen. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"mutation-${java.util.UUID.randomUUID()}"
    val fence = s"$group-fence"
    val jobs = new AtomicInteger()
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`fence`) => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    jobs.get()
  }

  /** Jobs of `mutate` over a fresh table with one matched row in each of
    * `k` files; `check` pins that exactly `k` files were touched. */
  private def jobsFor(k: Int)(mutate: (IcebergLite, Seq[String]) => Unit)(
      check: IcebergLite => Int): Int = {
    val t = buildTable()
    val targets = convPerBucket.take(k)
    val n = jobsOf(mutate(t, targets))
    assert(check(t) === k)
    n
  }

  private def matchedRow(targets: Seq[String]) =
    col("conv_id").isin(targets: _*) && col("turn_idx") === 0

  private def rewritten(t: IcebergLite): Int = t.deletes.last.removes.size

  private val mutations: Seq[(String, (IcebergLite, Seq[String]) => Unit, IcebergLite => Int)] = Seq(
    ("cow DELETE", (t, targets) =>
      assert(t.deleteWhere(spark, matchedRow(targets), "d") === targets.size.toLong),
      rewritten),
    ("MOR DELETE", (t, targets) =>
      assert(t.deleteWhereMor(spark, matchedRow(targets), "d") === targets.size.toLong),
      _.effectiveFiles.count(_.dvPath.isDefined)),
    ("UPDATE", (t, targets) =>
      assert(t.updateWhere(spark, matchedRow(targets),
        Seq("role" -> lit("assistant")), "u") === targets.size.toLong),
      rewritten),
    ("MERGE", (t, targets) => {
      // k matched keys plus one new key in a matched bucket
      val feed = (targets.map(c => (c, 0, "assistant")) :+
        ((targets.head, 999, "user")))
        .map { case (c, i, r) => (c, i, r, new java.sql.Timestamp(base / 1000L)) }
        .toDF("conv_id", "turn_idx", "role", "ts")
      assert(t.merge(spark, feed, "m", Some(MergeUpdateAll),
        insertNotMatched = true) === MergeStats(targets.size.toLong, 1L, Some(1L)))
    }, rewritten))

  mutations.foreach { case (name, mutate, check) =>
    test(s"$name: the Spark job count does not grow with matched files") {
      val two = jobsFor(2)(mutate)(check)
      val eight = jobsFor(8)(mutate)(check)
      info(s"$name: $two jobs over 2 files, $eight over 8")
      assert(two > 0)
      assert(eight === two, s"$name ran $two jobs over 2 files, $eight over 8")
    }
  }
}
