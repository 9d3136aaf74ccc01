package graft

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.StageMetrics
import graft.sources.AuditSink

/** Duplicate-ATTEMPT twin of [[TaskRetrySpec]]: that spec proves a
  * failed attempt's partials die; this proves the harder half of
  * AuditSink's "failed-task/speculative-duplicate story" — TWO LIVE
  * ATTEMPTS of the same partition racing to commit, with Spark's
  * OutputCommitCoordinator (on for DSv2 batch writes —
  * `Write.useCommitCoordinator` defaults true) granting exactly one
  * and the loser's [[graft.sources.AuditDataWriter]] dying in abort().
  *
  * How the duplicate is manufactured, deterministically:
  * true speculation cannot run here — TaskSetManager refuses to place
  * a speculative copy on a host that already has a live attempt, and
  * every executor of a one-box cluster reports the same host (a
  * speculation-conf draft of this spec measured exactly zero duplicate
  * attempts ever launching; `local[*]` is worse still — the
  * speculation scheduler thread only starts when `!isLocal`). The
  * OTHER producer of duplicate attempts has no host exclusion: a
  * FetchFailed resubmits the result stage while the old taskset's
  * still-running tasks become ZOMBIES that keep executing. So: in
  * stage attempt 0, partition 0 sleeps 1 s and throws a synthetic
  * [[FetchFailedException]] against the repartition shuffle (id 0 —
  * this write is the context's first shuffle); partition 1 sleeps 5 s
  * in EVERY attempt. The resubmitted attempt re-runs all unfinished
  * partitions ~1.3 s in, so its partition-1 copy overlaps the zombie's
  * by ~3.5 s — two live attempts of partition 1, no races left to
  * timing luck at these margins. The zombie finishes first, asks the
  * coordinator, commits; the copy is denied/killed and aborts.
  *
  * Runs on `local-cluster[2,1,1024]` — real separate executor JVMs, so
  * the commit messages, the injected failure, and the zombie overlap
  * all cross actual process boundaries (no shared statics: the
  * injection is keyed on (partitionId, stageAttemptNumber) from
  * TaskContext alone). The listener logs every task's run interval and
  * the spec asserts two attempts of the straggler partition genuinely
  * OVERLAPPED in time, so a pass can never mean "the race silently
  * never happened" (counting mere re-runs would be vacuous — the
  * resubmit always re-runs the failed partition). Channel totals must
  * equal an un-injected run's exactly: a double commit would double
  * partition 1's rows and skew both checksums.
  *
  * Session note: own session like TaskRetrySpec (stop active, build,
  * stop in afterAll — suites run sequentially in the forked JVM). The
  * executor JVMs are built from `spark.test.home` (/opt/spark) and
  * need the driver's classpath (for the test closure) plus its JDK-17
  * --add-opens flags, forwarded from the driver's own runtime below.
  */
class DuplicateAttemptSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    // LocalSparkCluster resolves the executor launch environment from
    // spark.test.home (or SPARK_HOME, which sbt does not set)
    sys.props("spark.test.home") = "/opt/spark"
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments
    val opens = new scala.collection.mutable.ArrayBuffer[String]
    var i = 0
    while (i < rt.size()) {
      val a = rt.get(i)
      if (a == "--add-opens" || a == "--add-exports") {
        opens += s"$a=${rt.get(i + 1)}"; i += 2
      } else {
        if (a.startsWith("--add-opens") || a.startsWith("--add-exports"))
          opens += a
        i += 1
      }
    }
    SparkSession.builder()
      .master("local-cluster[2,1,1024]")
      .appName("graft-duplicate-attempt")
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      // bin/spark-class normally exports this via load-spark-env.sh;
      // the Worker builds the executor command directly, and without it
      // the launcher falls back to source-tree probing ("Cannot find
      // any build directories")
      .config("spark.executorEnv.SPARK_SCALA_VERSION", "2.13")
      .config("spark.executor.extraJavaOptions", opens.mkString(" "))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }

  /** Restore the standalone app's executor target to `n` and wait for
    * registration — killExecutors LOWERS the target, so each kill-based
    * test leaves the cluster one executor short for the next. The
    * statusTracker count includes the driver entry, hence n + 1.
    */
  private def ensureExecutors(n: Int): Unit = {
    val sc = spark.sparkContext
    sc.requestTotalExecutors(n, 0, Map.empty)
    val deadline = System.currentTimeMillis + 60000
    while (sc.statusTracker.getExecutorInfos.length < n + 1 &&
        System.currentTimeMillis < deadline)
      Thread.sleep(200)
    assert(sc.statusTracker.getExecutorInfos.length >= n + 1,
      s"cluster never reached $n executors")
  }

  test("AuditSink commits exactly once when zombie and resubmitted attempts race") {
    import spark.implicits._

    // interval log per (stage, partition index): the tripwire below
    // must prove the RACE, not merely a re-run — a first draft counted
    // a second TaskStart of ANY partition, which the resubmit satisfies
    // unconditionally by re-running the FAILED partition 0, making the
    // assert vacuous. What the commit-coordinator claim needs is two
    // attempts of the STRAGGLER partition whose run intervals OVERLAP.
    // Starts come from onTaskStart and ends from onTaskEnd because the
    // LOSER's end event ("TaskKilled: Stage cancelled") is posted by an
    // executor RPC that can land after the job — and the listener —
    // are gone; an attempt with no recorded end was still running at
    // drain time, which for the overlap test is an open interval.
    val starts = scala.collection.mutable
      .ArrayBuffer.empty[(Int, Int, Long, Long)] // stage, index, taskId, t0
    val ends = scala.collection.mutable.Map.empty[Long, Long] // taskId -> t1
    val listener = new SparkListener {
      override def onTaskStart(e: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
        starts.synchronized {
          starts += ((e.stageId, e.taskInfo.index, e.taskInfo.taskId,
            e.taskInfo.launchTime))
          ()
        }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        starts.synchronized {
          ends(e.taskInfo.taskId) = e.taskInfo.finishTime
          ()
        }
    }

    AuditSink.clear("dup_race")
    AuditSink.clear("dup_clean")
    try {
      // THE RACE WRITE — must be this context's first shuffle so the
      // injected FetchFailed's shuffleId 0 names the repartition below
      spark.sparkContext.addSparkListener(listener)
      try {
        spark.range(0, 4000, 1, 4).as[Long].toDF("v")
          .repartition(4) // user-pinned width: AQE keeps all 4 partitions
          .as[Long]
          .mapPartitions { it =>
            val ctx = TaskContext.get()
            if (ctx.partitionId() == 0 && ctx.stageAttemptNumber() == 0) {
              // let partition 1's zombie get deep into its sleep first
              Thread.sleep(1000)
              // FetchFailedException is private[spark] in the Scala
              // signature (public in bytecode) — build it reflectively.
              // Its constructor marks TaskContext.fetchFailed, which is
              // what makes the TaskRunner report FetchFailed rather
              // than a plain exception; null bmAddress = "location
              // unknown", so the scheduler resubmits the result stage
              // without unregistering the (healthy) map outputs.
              val cls = Class.forName(
                "org.apache.spark.shuffle.FetchFailedException")
              throw cls.getConstructors
                .find(_.getParameterCount == 7).get
                .newInstance(null, Int.box(0), Long.box(0L), Int.box(0),
                  Int.box(0),
                  "injected fetch failure (duplicate-attempt race)", null)
                .asInstanceOf[Throwable]
            }
            if (ctx.partitionId() == 1) Thread.sleep(5000)
            it
          }
          .toDF("v")
          .write.format("auditsink").mode("append")
          .option("channel", "dup_race").save()
      } finally {
        StageMetrics.drain(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
      // the race proof: some stage must have run TWO attempts of one
      // PARTITION-1 task with overlapping [launch, finish] intervals —
      // the zombie still sleeping while the resubmitted copy runs. Only
      // the write stage re-runs partition 1 (the map outputs survive the
      // null-bmAddress FetchFailed), and with a 1 s failure against a
      // 5 s straggler the overlap margin is ~3.5 s.
      val overlapped = starts.synchronized {
        starts.filter(_._2 == 1).groupBy(_._1).values.exists { as =>
          as.size >= 2 && as.combinations(2).exists { pair =>
            val Seq((_, _, id1, s1), (_, _, id2, s2)) = pair.toSeq
            val f1 = ends.getOrElse(id1, Long.MaxValue) // open = running
            val f2 = ends.getOrElse(id2, Long.MaxValue)
            math.max(s1, s2) < math.min(f1, f2)
          }
        }
      }
      assert(overlapped,
        "no overlapping duplicate attempts of partition 1 — the commit race never happened")

      spark.range(0, 4000, 1, 4).as[Long].toDF("v")
        .write.format("auditsink").mode("append")
        .option("channel", "dup_clean").save()

      val race = AuditSink.stats("dup_race")
      val clean = AuditSink.stats("dup_clean")
      // order/partitioning-independent checksums: same 0..3999 multiset
      // must fold to identical (rows, sum, xor) — a duplicate commit of
      // partition 1 would show up in all three
      assert(race == clean)
      assert(race._1 == 4000L)
      assert(AuditSink.epochs("dup_race").size == 1)
    } finally {
      AuditSink.clear("dup_race")
      AuditSink.clear("dup_clean")
    }
  }

  test("AuditSink commits exactly once when an executor JVM dies mid-write") {
    import spark.implicits._

    // EXECUTOR LOSS is a distinct failure class from TaskRetrySpec's
    // thrown exception: the writer process disappears mid-write, so its
    // DataWriter never even runs abort() — the exactly-once claim rests
    // purely on "partials only reach the driver through a task commit
    // message", which a dead JVM by definition never sent. This is the
    // failure a 1000-executor cluster takes daily (preemption, OOM
    // kill, hardware), exercised here for REAL: the straggler's
    // executor is killed via SparkContext.killExecutors while the task
    // sleeps inside it, and the retry lands on the surviving executor.
    @volatile var stragglerExec: String = null
    val removals = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onTaskStart(e: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
        if (e.taskInfo.index == 1 && stragglerExec == null)
          stragglerExec = e.taskInfo.executorId
      override def onExecutorRemoved(
          e: org.apache.spark.scheduler.SparkListenerExecutorRemoved): Unit = {
        removals.incrementAndGet(); ()
      }
    }

    def write(channel: String, straggle: Boolean): Unit =
      spark.range(0, 4000, 1, 4).as[Long]
        .mapPartitions { it =>
          // sleeps in EVERY attempt (bounded): the retry just sleeps
          // again on whichever executor survives
          if (straggle && TaskContext.get().partitionId() == 1)
            Thread.sleep(4000)
          it
        }
        .toDF("v")
        .write.format("auditsink").mode("append")
        .option("channel", channel).save()

    AuditSink.clear("loss_race")
    AuditSink.clear("loss_clean")
    try {
      ensureExecutors(2) // kill-based tests each leave the target lowered
      spark.sparkContext.addSparkListener(listener)
      val killer = new Thread(() => {
        val deadline = System.currentTimeMillis + 30000
        while (stragglerExec == null && System.currentTimeMillis < deadline)
          Thread.sleep(50)
        if (stragglerExec != null) {
          Thread.sleep(500) // the task is now deep inside its 4 s sleep
          // driver-requested kill: the executor JVM exits with the
          // straggler's partials on its heap; standalone lowers the
          // executor target, so the retry must fit on the survivor
          spark.sparkContext.killExecutors(Seq(stragglerExec))
          ()
        }
      })
      killer.setDaemon(true)
      try {
        killer.start()
        write("loss_race", straggle = true)
        killer.join(5000)
      } finally {
        StageMetrics.drain(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
      assert(stragglerExec != null, "straggler task never started")
      assert(removals.get() >= 1,
        "no executor was removed — the kill never landed")

      write("loss_clean", straggle = false)

      val race = AuditSink.stats("loss_race")
      val clean = AuditSink.stats("loss_clean")
      assert(race == clean)
      assert(race._1 == 4000L)
      assert(AuditSink.epochs("loss_race").size == 1)
    } finally {
      AuditSink.clear("loss_race")
      AuditSink.clear("loss_clean")
    }
  }

  test("RocksDB state fails over to the surviving executor mid-run") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._

    // WITHIN-RUN state-store failover — the dimension neither
    // CheckpointRestartSpec (new query instance on an old checkpoint)
    // nor the kill test above (stateless batch write) covers: a
    // stateful STREAMING query loses an executor between micro-batches
    // and the next batch must reload that executor's RocksDB state
    // partitions from the checkpoint on the survivor. Deterministic by
    // construction: the kill happens after phase 1 is fully committed
    // and is confirmed (executor removed) before phase 2 is fed, so no
    // timing is left to luck. Which executor dies is NOT arbitrary:
    // key "a"'s bucket lives in exactly one of the 4 state partitions
    // (pmod(murmur3, 4) — computed below with the engine's own hash()),
    // and the StateStoreCoordinator's locality keeps that partition on
    // whichever executor first loaded it — so killing ids.head would
    // leave a ~50% chance the survivor already held the state and the
    // reload path silently went unexercised. The listener records who
    // ran that partition's task in the (4-task) stateful stage and the
    // kill targets HIM, making "phase 2 must reload from checkpoint"
    // structural. Token-bucket trace and hand replay are
    // CheckpointRestartSpec's: row 4 (refill clamps at cap, spend) is
    // only correct if the bucket state (utok=400000, lastUs=400000)
    // came back — a fresh bucket would start full and emit a different
    // tokens_after.
    val trace = Seq(
      ("a", 0L), ("a", 200000L), ("a", 400000L), ("a", 2400000L),
      ("a", 2500000L))
    val expected = Seq(
      ("a", 0L, true, 1000000L), ("a", 200000L, true, 200000L),
      ("a", 400000L, false, 400000L), ("a", 2400000L, true, 1000000L),
      ("a", 2500000L, true, 100000L))

    ensureExecutors(2)
    // key "a"'s state-partition index, from the ENGINE's hash: stateful
    // operators shuffle on HashPartitioning(groupKey, n) = pmod(murmur3
    // seed-42, n), which is exactly SQL hash() — no hardcoded constant
    // to rot if the hash ever changes
    val statePart = spark.range(1)
      .select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(
          org.apache.spark.sql.functions.lit("a")),
        org.apache.spark.sql.functions.lit(4)))
      .head().getInt(0)
    val removals = new java.util.concurrent.atomic.AtomicInteger(0)
    // the stateful stage is recognized STRUCTURALLY: it is the stage
    // whose RDD lineage contains the StateStoreRDD (the RDD that
    // mapPartitionsWithStateStore wraps every stateful operator in —
    // unnamed RDDs report their class name in RDDInfo). The first
    // version matched on numTasks == 4, which any other 4-task stage in
    // the batch (a scan side, another exchange) could collide with,
    // silently latching the wrong executor and re-introducing the ~50%
    // kill-the-wrong-host vacuity this detector exists to remove.
    // Last write wins: within a batch the stateful stage starts only
    // after its map stage finished, and across batches locality keeps
    // the partition put — the final holder is the one whose death
    // forces a reload.
    @volatile var stateHostExec: String = null
    val statefulStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        if (e.stageInfo.rddInfos.exists(_.name.contains("StateStoreRDD")))
          statefulStages.add(e.stageInfo.stageId)
        ()
      }
      override def onTaskStart(
          e: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
        if (statefulStages.contains(e.stageId) &&
            e.taskInfo.index == statePart)
          stateHostExec = e.taskInfo.executorId
      override def onExecutorRemoved(
          e: org.apache.spark.scheduler.SparkListenerExecutorRemoved): Unit = {
        removals.incrementAndGet(); ()
      }
    }
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    graft.streaming.TwsOps.useRocksDb(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val src = MemoryStream[(String, Long)](spark)
      val ckpt = java.nio.file.Files.createTempDirectory("failover")
      val q = graft.streaming.TwsOps
        .tokenBucketTws(src.toDS().toDF("k", "ts"), "k", "ts", 2L, 1L)
        .writeStream.format("memory").queryName("tb_failover")
        .option("checkpointLocation", s"$ckpt/ckpt")
        .outputMode("append").start()
      try {
        src.addData(trace.take(3): _*)
        q.processAllAvailable() // phase 1 committed on BOTH executors

        StageMetrics.drain(spark) // the stateful stage's task starts
        assert(stateHostExec != null,
          "never observed the state partition's task — stage shape changed?")
        val killed = stateHostExec
        spark.sparkContext.killExecutors(Seq(killed))
        val deadline = System.currentTimeMillis + 30000
        while (removals.get() < 1 && System.currentTimeMillis < deadline)
          Thread.sleep(100)
        assert(removals.get() >= 1, "executor kill never landed")

        src.addData(trace.drop(3): _*)
        q.processAllAvailable() // phase 2: state reloads on the survivor
        StageMetrics.drain(spark)
        // non-vacuity receipt: phase 2's copy of the state partition ran
        // somewhere OTHER than the executor that held it — the reload
        // really was a reload, not the old resident store
        assert(stateHostExec != killed,
          "state partition task never moved off the killed executor")
      } finally q.stop()

      val out = spark.table("tb_failover").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2),
          r.getLong(3))).toSeq.sortBy(_._2)
      assert(out == expected)
    } finally {
      StageMetrics.drain(spark)
      spark.sparkContext.removeSparkListener(listener)
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
