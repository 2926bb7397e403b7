package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.functions._

import graft.sinks.{SnapshotStore, Warehouse}

/** Transactional-commit guarantees of the manifest-pointer log: atomic
  * replace/append, partition-scoped commits, retention, and — the
  * headline — concurrent readers through compactions/swaps seeing
  * either the old or the new snapshot, never neither. */
class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    tmpDir(prefix) + "/t"

  test("append then read round-trips; appends are all-or-nothing to readers") {
    val base = tmp("ss-append")
    SnapshotStore.commitAppend(spark, base, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    SnapshotStore.commitAppend(spark, base, Seq((3L, "c")).toDF("id", "v"))
    val got = SnapshotStore.read(spark, base).get.orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
  }

  test("changesBetween reads exactly the appended batch; versions list ascends") {
    val base = tmp("ss-changes")
    SnapshotStore.commitReplace(spark, base, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    SnapshotStore.commitAppend(spark, base, Seq((3L, "c"), (4L, "d")).toDF("id", "v"))
    SnapshotStore.commitAppend(spark, base, Seq((5L, "e")).toDF("id", "v"))
    assert(SnapshotStore.versions(spark, base) == Seq(0L, 1L, 2L))
    // one-commit delta
    val d01 = SnapshotStore.changesBetween(spark, base, 0L, 1L).get
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(d01 == Seq(3L, 4L))
    // multi-commit delta accumulates
    val d02 = SnapshotStore.changesBetween(spark, base, 0L, 2L).get
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(d02 == Seq(3L, 4L, 5L))
    // full history from before the first commit
    val dAll = SnapshotStore.changesBetween(spark, base, -1L, 2L).get
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(dAll == Seq(1L, 2L, 3L, 4L, 5L))
    // empty delta -> None
    assert(SnapshotStore.changesBetween(spark, base, 2L, 2L).isEmpty)
  }

  test("readVersion time-travels to any retained manifest") {
    val base = tmp("ss-tt")
    SnapshotStore.commitReplace(spark, base, Seq((1L, "a")).toDF("id", "v"))
    SnapshotStore.commitAppend(spark, base, Seq((2L, "b")).toDF("id", "v"))
    SnapshotStore.commitReplace(spark, base, Seq((9L, "z")).toDF("id", "v"))
    def idsAt(v: Long) = SnapshotStore.readVersion(spark, base, v).get
      .collect().map(_.getLong(0)).toSet
    assert(idsAt(0L) == Set(1L))
    assert(idsAt(1L) == Set(1L, 2L))
    assert(idsAt(2L) == Set(9L))
    // live read = newest version
    assert(SnapshotStore.read(spark, base).get.collect().map(_.getLong(0)).toSet == Set(9L))
    // vacuum drops old manifests; retained ones still read
    SnapshotStore.vacuum(spark, base, keepManifests = 1)
    intercept[java.io.FileNotFoundException](idsAt(0L))
    assert(idsAt(2L) == Set(9L))
  }

  test("processNew: each commit processed once; replay only if checkpoint lost") {
    val base = tmp("ss-follow")
    val ck = base + "-ck/version"
    var seen = Vector.empty[(Set[Long], Long)]
    def drain(): Unit = SnapshotStore.processNew(spark, base, ck) { (df, v) =>
      seen :+= (df.collect().map(_.getLong(0)).toSet, v)
    }
    drain() // empty store -> no-op
    assert(seen.isEmpty)
    SnapshotStore.commitAppend(spark, base, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    drain()
    assert(seen == Vector((Set(1L, 2L), 0L)))
    drain() // caught up -> no-op
    assert(seen.size == 1)
    // two commits between drains arrive as ONE batch at the high version
    SnapshotStore.commitAppend(spark, base, Seq((3L, "c")).toDF("id", "v"))
    SnapshotStore.commitAppend(spark, base, Seq((4L, "d")).toDF("id", "v"))
    drain()
    assert(seen.last == ((Set(3L, 4L), 2L)))
    // exactly-once composition: landing through a tagged commitAppend
    // makes a replayed batch a no-op
    val out = tmp("ss-follow-out")
    def land(df: org.apache.spark.sql.DataFrame, v: Long): Unit =
      SnapshotStore.commitAppend(spark, out, df, tag = Some(s"v$v"))
    land(Seq((9L, "x")).toDF("id", "v"), 7L)
    land(Seq((9L, "x")).toDF("id", "v"), 7L) // replay
    assert(SnapshotStore.read(spark, out).get.count() == 1)
  }

  test("replace swaps the visible snapshot; old files survive until vacuum") {
    val base = tmp("ss-replace")
    SnapshotStore.commitReplace(spark, base, Seq((1L, "old")).toDF("id", "v"))
    val oldFiles = SnapshotStore.listFiles(spark, base)
    SnapshotStore.commitReplace(spark, base, Seq((2L, "new"), (3L, "new")).toDF("id", "v"))
    assert(SnapshotStore.read(spark, base).get.count() === 2)
    // previous version's files still exist (in-flight reader safety)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(oldFiles.forall(f =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$base/data/$f"))))
    // a third commit + vacuum(keep 2) drops the first version's files
    SnapshotStore.commitReplace(spark, base, Seq((4L, "n3")).toDF("id", "v"))
    SnapshotStore.vacuum(spark, base, keepManifests = 2)
    assert(oldFiles.exists(f =>
      !fs.exists(new org.apache.hadoop.fs.Path(s"$base/data/$f"))))
    assert(SnapshotStore.read(spark, base).get.count() === 1)
  }

  test("partition-scoped replace rewrites only that partition's files") {
    val base = tmp("ss-part")
    SnapshotStore.commitAppend(spark, base,
      Seq((1L, "202401"), (2L, "202401"), (3L, "202402")).toDF("id", "m"),
      partitionBy = Seq("m"))
    val before = SnapshotStore.listFiles(spark, base)
    val keptBefore = before.filter(_.startsWith("m=202402/"))
    SnapshotStore.commitReplacePartition(spark, base,
      Seq((9L, "202401")).toDF("id", "m"), "m", "202401")
    val after = SnapshotStore.listFiles(spark, base)
    // untouched partition carried by reference — same physical files
    assert(after.filter(_.startsWith("m=202402/")).toSet === keptBefore.toSet)
    val rows = SnapshotStore.read(spark, base).get
      .select("id").as[Long].collect().sorted
    assert(rows.toSeq === Seq(3L, 9L))
  }

  test("appendOnce: replaying the same batch id is a no-op (exactly-once landing)") {
    val base = tmp("ss-once")
    val batch = spark.range(10).select(col("id").as("event_id"),
      lit("2024-02-01 00:00:00").cast("timestamp").as("event_ts"))
    Warehouse.appendOnce(batch, base, batchId = 0)
    Warehouse.appendOnce(batch, base, batchId = 0) // restart replay
    // raw storage (no LWW applied) — the replay must not land twice
    assert(SnapshotStore.read(spark, base).get.count() === 10)
    Warehouse.appendOnce(batch, base, batchId = 1)
    assert(SnapshotStore.read(spark, base).get.count() === 20)
  }

  test("idempotence tag survives compactions and vacuums (carried forward)") {
    val base = tmp("ss-tagcarry")
    val batch = spark.range(10).select(col("id").as("event_id"),
      lit("2024-03-01 00:00:00").cast("timestamp").as("event_ts"))
    Warehouse.appendOnce(batch, base, batchId = 5)
    // two maintenance passes: the original tagged manifest is vacuumed
    // away, but every commit copies tags forward
    Warehouse.compact(spark, base)
    Warehouse.compact(spark, base)
    Warehouse.appendOnce(batch, base, batchId = 5) // crash-replay after maintenance
    assert(SnapshotStore.read(spark, base).get.count() === 10) // still once
  }

  test("the idempotence tag survives every commit kind; a replay stays a no-op") {
    val data = spark.range(10).select(col("id"), (col("id") * 10).as("v"))
    val kinds: Seq[(String, String => Unit)] = Seq(
      "commitReplacePartition" -> (b => SnapshotStore.commitReplacePartition(spark, b,
        Seq((1L, 2L)).toDF("id", "v"), "v", "2")),
      "deleteRange" -> (b => SnapshotStore.deleteRange(spark, b, "id", 0, 4)),
      "updateRange" -> (b => SnapshotStore.updateRange(spark, b, "id", 0, 4,
        Map("v" -> lit(0L)))),
      "ttlExpire" -> (b => SnapshotStore.ttlExpire(spark, b, "id", 5, identity)),
      "mergeKeyed" -> (b => SnapshotStore.mergeKeyed(spark, b,
        Seq((3L, 0L, false)).toDF("id", "v", "__del"), "id", col("__del"))),
      "restore" -> (b => SnapshotStore.restore(spark, b, 0L)))
    kinds.foreach { case (kind, op) =>
      val base = tmp(s"ss-tag-$kind")
      def land(): Unit = SnapshotStore.commitAppend(spark, base, data, tag = Some("b7"))
      land()
      op(base)
      assert(SnapshotStore.versions(spark, base) === Seq(0L, 1L), s"$kind did not commit")
      assert(SnapshotStore.hasTag(spark, base, "b7"), s"$kind dropped the tag")
      land() // crash-replay after the commit
      assert(SnapshotStore.versions(spark, base) === Seq(0L, 1L), s"replay after $kind landed")
    }
  }

  test("a one-partition frame of unknown size commits without a rebalance exchange") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{REBALANCE_PARTITIONS_BY_COL,
      REBALANCE_PARTITIONS_BY_NONE, ShuffleExchangeLike}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.sql.util.QueryExecutionListener
    val schema = StructType(Seq(StructField("id", LongType), StructField("m", StringType),
      StructField("note", StringType)))
    val rows = (0L until 100L).map(i => Row(i, s"m${i % 3}", s"note $i"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    // an RDD-backed plan reports Spark's unknown size, far above the gate
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(SnapshotStore.rebalanceMinBytes(spark)))
    // a narrowing projection scales that estimate below the unknown size,
    // yet it still reads far above the gate
    val narrow = df.select("id", "m")
    val narrowEst = narrow.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(narrowEst < BigInt(spark.sessionState.conf.defaultSizeInBytes) &&
      narrowEst >= BigInt(SnapshotStore.rebalanceMinBytes(spark)), narrowEst)
    for ((name, frame) <- Seq[(String, DataFrame)]("ss-rebal" -> df, "ss-rebal-narrow" -> narrow)) {
      val base = tmp(name)
      val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
      val listener = new QueryExecutionListener {
        def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          if (qe.analyzed.toString.contains(s"$base/_stage")) writes.add(qe)
        def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        SnapshotStore.commitAppend(spark, base, frame, partitionBy = Seq("m"))
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      } finally spark.listenerManager.unregister(listener)
      assert(writes.size === 1, s"the staged write of $name was not observed")
      val helper = new AdaptiveSparkPlanHelper {}
      val rebalances = writes.asScala.toSeq.flatMap(qe => helper.collect(qe.executedPlan) {
        case e: ShuffleExchangeLike if e.shuffleOrigin == REBALANCE_PARTITIONS_BY_NONE ||
            e.shuffleOrigin == REBALANCE_PARTITIONS_BY_COL => e
      })
      assert(rebalances.isEmpty, s"rebalance planned for a one-partition input ($name): $rebalances")
      assert(SnapshotStore.read(spark, base).get.count() === 100)
    }
  }

  test("cleanOrphans removes crashed-write leftovers, table stays readable") {
    val base = tmp("ss-orphans")
    SnapshotStore.commitReplace(spark, base, Seq((1L, "a")).toDF("id", "v"))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/_stage/dead-uuid"))
    fs.create(new org.apache.hadoop.fs.Path(s"$base/_manifests/.tmp-dead")).close()
    SnapshotStore.cleanOrphans(spark, base)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/_stage")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/_manifests/.tmp-dead")))
    assert(SnapshotStore.read(spark, base).get.count() === 1)
  }

  test("concurrent reader through repeated compactions: old or new, never neither") {
    val base = tmp("ss-conc")
    // seed: 300 rows with duplicate event_ids (3 deliveries each)
    val batch = spark.range(300)
      .select((col("id") % 100).as("event_id"),
        lit("2024-01-15 10:00:00").cast("timestamp").as("event_ts"),
        lit("play").as("event_type"))
    Warehouse.append(batch, base)
    val failure = new AtomicReference[Throwable](null)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          // LWW read must always see exactly the 100 distinct events —
          // an in-between state (missing table, half-swapped files)
          // would throw or return a different count
          val n = Warehouse.read(spark, base).count()
          assert(n === 100L, s"inconsistent snapshot: $n rows")
          reads.incrementAndGet()
        }
      } catch { case t: Throwable => failure.set(t) }
    })
    reader.start()
    try {
      for (_ <- 1 to 4) {
        Warehouse.compact(spark, base) // full rewrite + pointer flip + vacuum
        Warehouse.append(batch, base)  // re-introduce duplicates
      }
      Warehouse.compact(spark, base, month = Some("202401"))
    } finally {
      stop.set(true)
      reader.join(60000)
    }
    assert(failure.get() === null, s"concurrent reader failed: ${failure.get()}")
    assert(reads.get() > 0, "reader never completed a read during the writes")
    assert(Warehouse.read(spark, base).count() === 100)
  }

  test("dim swap under a concurrent reader: every read is a full snapshot") {
    val base = tmp("ss-dim")
    def changes(n: Int, seq: Long) = spark.range(n)
      .select(concat(lit("content-"), col("id")).as("id"),
        lit("s").as("slug"), lit("T").as("title"),
        lit("podcast").as("content_type"), lit(300).as("length_seconds"),
        lit("2024-01-01T00:00:00").as("publish_ts"),
        lit(false).as("is_delete"), lit(seq).as("change_seq"))
    graft.dim.ContentDim.applyBatch(spark, base, changes(10, 1))
    val failure = new AtomicReference[Throwable](null)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          val n = graft.dim.ContentDim.snapshot(spark, base).count()
          // every committed version has >= 10 live keys; a torn swap
          // would throw or show a partial table
          assert(n >= 10L, s"partial snapshot: $n rows")
        }
      } catch { case t: Throwable => failure.set(t) }
    })
    reader.start()
    try {
      for (i <- 2 to 6) graft.dim.ContentDim.applyBatch(spark, base, changes(10 + i, i.toLong))
    } finally {
      stop.set(true)
      reader.join(60000)
    }
    assert(failure.get() === null, s"concurrent dim reader failed: ${failure.get()}")
    assert(graft.dim.ContentDim.snapshot(spark, base).count() === 16)
  }

  test("summing MV: incremental maintenance equals full recompute; replay is a no-op") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.DecimalType
    val src = tmp("sum-src")
    val mv = tmp("sum-mv")
    val ck = tmp("sum-ck") + "/ck"
    def partial(df: DataFrame): DataFrame = df.groupBy("k")
      .agg(count(lit(1)).as("cnt"),
        sum(col("v").cast(DecimalType(28, 2))).as("s"))
    def mergedMap() = graft.sinks.SummingStore
      .read(spark, mv, Seq("k"), Seq("cnt", "s")).get
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2).doubleValue)).toMap

    SnapshotStore.commitAppend(spark, src,
      Seq(("a", 1.5), ("b", 2.0), ("a", 3.0)).toDF("k", "v"))
    assert(graft.sinks.SummingStore.maintain(spark, src, ck, mv)(partial) === Some(0L))
    SnapshotStore.commitAppend(spark, src, Seq(("a", 10.0), ("c", 7.0)).toDF("k", "v"))
    assert(graft.sinks.SummingStore.maintain(spark, src, ck, mv)(partial) === Some(1L))
    assert(graft.sinks.SummingStore.maintain(spark, src, ck, mv)(partial) === None)
    // merge-on-read equals the full recompute over all source rows
    assert(mergedMap() === Map("a" -> (3L, 14.5), "b" -> (1L, 2.0), "c" -> (1L, 7.0)))
    // lost checkpoint → re-drain carries the same version tag → no-op
    new java.io.File(ck).delete()
    graft.sinks.SummingStore.maintain(spark, src, ck, mv)(partial)
    assert(mergedMap() === Map("a" -> (3L, 14.5), "b" -> (1L, 2.0), "c" -> (1L, 7.0)))
    // OPTIMIZE analog: one part, same answer
    graft.sinks.SummingStore.compact(spark, mv, Seq("k"), Seq("cnt", "s"))
    assert(SnapshotStore.listFiles(spark, mv).size <= 4) // one write's files
    assert(mergedMap() === Map("a" -> (3L, 14.5), "b" -> (1L, 2.0), "c" -> (1L, 7.0)))
  }

  test("file stats skip non-matching files; result equals the full-scan filter") {
    val base = tmp("ss-skip")
    val df = spark.range(1000).select(col("id"), (col("id") % 7).as("v"))
      .repartitionByRange(8, col("id"))
    SnapshotStore.commitReplace(spark, base, df, statsCols = Seq("id"))
    val all = SnapshotStore.listFiles(spark, base)
    assert(all.size === 8)
    assert(SnapshotStore.fileStats(spark, base).size === 8)
    // a narrow range must hit a strict subset of the files — pure
    // manifest metadata decides, no data IO
    val pruned = SnapshotStore.pruneFiles(spark, base, "id", 100, 130)
    assert(pruned.size <= 2, s"skipping ineffective: ${pruned.size} of 8 files")
    // and the skipping read returns exactly the full-scan filter's rows
    val out = SnapshotStore.readRange(spark, base, "id", 100, 130).get
    assert(out.select("id").collect().map(_.getLong(0)).toSet === (100L to 130L).toSet)
    // a range outside the table skips every file
    assert(SnapshotStore.readRange(spark, base, "id", 5000, 6000).isEmpty)
    // a column without stats is conservatively unpruned
    assert(SnapshotStore.pruneFiles(spark, base, "v", 0, 0).size === 8)
  }

  test("two interleaved writers + an incremental consumer: no commit lost, no manifest torn") {
    // r6 review ask: the atomic-swap claim was single-writer. Two
    // threads commitAppend concurrently to the same base (the real
    // in-process case: several streaming queries landing in one
    // table) while a third consumes the manifest log via processNew.
    // Every commit must survive — POSIX rename(2) OVERWRITES an
    // existing destination, so before the per-base commit lock the
    // loser of a version race silently erased the winner's manifest.
    val base = tmp("ss-race")
    val ck = tmp("ss-race-ck") + "/ck"
    val perWriter = 8
    val failure = new AtomicReference[Throwable](null)
    val writers = (0 until 2).map { w =>
      new Thread(() => {
        try {
          for (i <- 0 until perWriter) {
            SnapshotStore.commitAppend(spark, base,
              Seq((w.toLong, i.toLong)).toDF("writer", "seq"),
              tag = Some(s"w$w-$i"))
          }
        } catch { case t: Throwable => failure.compareAndSet(null, t) }
      })
    }
    val consumed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val consumer = new Thread(() => {
      try {
        while (!stop.get()) {
          SnapshotStore.processNew(spark, base, ck) { (df, _) =>
            consumed.synchronized {
              consumed ++= df.collect().map(r => (r.getLong(0), r.getLong(1)))
            }
          }
          Thread.sleep(20)
        }
      } catch { case t: Throwable => failure.compareAndSet(null, t) }
    })
    writers.foreach(_.start()); consumer.start()
    writers.foreach(_.join(120000))
    // processNew is SINGLE-consumer (its checkpoint arbitrates nothing):
    // stop the polling thread before draining the tail from this one
    stop.set(true); consumer.join(60000)
    SnapshotStore.processNew(spark, base, ck) { (df, _) =>
      consumed.synchronized {
        consumed ++= df.collect().map(r => (r.getLong(0), r.getLong(1)))
      }
    }
    assert(failure.get() === null, s"concurrent commit failed: ${failure.get()}")
    val expect = (for (w <- 0 until 2; i <- 0 until perWriter)
      yield (w.toLong, i.toLong)).toSet
    // versions are gap-free — one manifest per commit, none overwritten
    assert(SnapshotStore.versions(spark, base) ===
      (0L until (2L * perWriter)).toSeq)
    // the live snapshot holds every commit exactly once
    val live = SnapshotStore.read(spark, base).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(live.size === expect.size && live.toSet === expect,
      s"lost/duplicated commits: ${live.sorted}")
    // every retained manifest parses and reads — none torn mid-write
    SnapshotStore.versions(spark, base).foreach { v =>
      assert(SnapshotStore.readVersion(spark, base, v).get.count() === v + 1)
    }
    // the incremental consumer saw each row exactly once
    val seen = consumed.synchronized(consumed.toSeq)
    assert(seen.size === expect.size && seen.toSet === expect,
      s"processNew under concurrency: ${seen.sorted}")
    // replaying any writer's tag is still a no-op after the race
    SnapshotStore.commitAppend(spark, base,
      Seq((9L, 9L)).toDF("writer", "seq"), tag = Some("w0-0"))
    assert(SnapshotStore.read(spark, base).get.count() === expect.size.toLong)
  }

  test("file stats carry forward with their files across appends") {
    val base = tmp("ss-skip-carry")
    SnapshotStore.commitReplace(spark, base,
      spark.range(0, 500).toDF("id").repartitionByRange(4, col("id")),
      statsCols = Seq("id"))
    SnapshotStore.commitAppend(spark, base,
      spark.range(500, 1000).toDF("id").repartitionByRange(4, col("id")),
      statsCols = Seq("id"))
    assert(SnapshotStore.listFiles(spark, base).size === 8)
    assert(SnapshotStore.fileStats(spark, base).size === 8) // old stats carried
    val lowFiles = SnapshotStore.pruneFiles(spark, base, "id", 0, 10)
    val highFiles = SnapshotStore.pruneFiles(spark, base, "id", 990, 999)
    assert(lowFiles.size === 1 && highFiles.size === 1)
    assert(lowFiles.toSet.intersect(highFiles.toSet).isEmpty)
    // stats die with their files: replacing the table drops old lines
    SnapshotStore.commitReplace(spark, base,
      spark.range(0, 10).toDF("id"), statsCols = Seq("id"))
    val st = SnapshotStore.fileStats(spark, base)
    assert(st.keySet === SnapshotStore.listFiles(spark, base).toSet)
  }

  test("deleteRange rewrites only the files that can hold matches; result is exact") {
    import spark.implicits._
    val base = tmp("snapdel")
    // 1000 rows user-clustered into 10 files of 100 users each
    val d = spark.range(1000).select(col("id"), (col("id") % 1000).as("user_id"),
        lit("payload").as("p"))
      .repartitionByRange(10, col("user_id"))
    SnapshotStore.commitReplace(spark, base, d, statsCols = Seq("user_id"))
    val before = SnapshotStore.listFiles(spark, base)
    assert(before.size === 10)

    // purge users 150–249: at most 2 clustered files can hold them
    val rewritten = SnapshotStore.deleteRange(spark, base, "user_id", 150.0, 249.0,
      statsCols = Seq("user_id"))
    assert(rewritten <= 2, s"delete rewrote $rewritten files — pruning broke")
    val after = SnapshotStore.listFiles(spark, base)
    assert(before.toSet.intersect(after.toSet).size === before.size - rewritten,
      "untouched files must carry over by reference")
    val got = SnapshotStore.read(spark, base).get.select("user_id").as[Long].collect()
    assert(got.length === 900)
    assert(!got.exists(u => u >= 150 && u <= 249))

    // no-match range: metadata says nothing can match → no-op, no commit
    val versionsBefore = SnapshotStore.versions(spark, base).size
    assert(SnapshotStore.deleteRange(spark, base, "user_id", 5000.0, 6000.0) === 0)
    assert(SnapshotStore.versions(spark, base).size === versionsBefore)

    // extra predicate narrows the purge inside the range; null column
    // values are never deleted by a range they can't satisfy
    val rewritten2 = SnapshotStore.deleteRange(spark, base, "user_id", 0.0, 49.0,
      statsCols = Seq("user_id"), extra = Some(col("id") % 2 === 0))
    assert(rewritten2 >= 1)
    val left = SnapshotStore.read(spark, base).get
      .filter(col("user_id") <= 49).select("id").as[Long].collect()
    assert(left.nonEmpty && left.forall(_ % 2 === 1))
  }

  test("mergeKeyed: clustered CDC batch rewrites only the files holding its keys") {
    import spark.implicits._
    val base = tmp("snapmerge")
    val d = spark.range(1000).select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartitionByRange(10, col("k"))
    SnapshotStore.commitReplace(spark, base, d, statsCols = Seq("k"))
    val before = SnapshotStore.listFiles(spark, base)

    // batch confined to keys 120–180 + one brand-new key + one delete
    val changes = Seq(
      (120L, -1L, false), (180L, -2L, false), // updates
      (5000L, -3L, false),                    // insert (outside every range)
      (150L, 0L, true))                       // delete
      .toDF("k", "v", "__del")
    val rewritten = SnapshotStore.mergeKeyed(spark, base, changes, "k",
      col("__del"), statsCols = Seq("k"))
    assert(rewritten <= 2, s"clustered merge rewrote $rewritten of 10 files")
    val after = SnapshotStore.listFiles(spark, base)
    assert(before.toSet.intersect(after.toSet).size === before.size - rewritten)

    val m = SnapshotStore.read(spark, base).get
      .select("k", "v").as[(Long, Long)].collect().toMap
    assert(m.size === 1000) // 1000 - 1 delete + 1 insert
    assert(m(120L) === -1L && m(180L) === -2L && m(5000L) === -3L)
    assert(!m.contains(150L))
    assert(m(121L) === 1210L, "untouched key inside a rewritten file must survive")
    assert(m(999L) === 9990L, "carried-over file content must be intact")

    // delete marker column never reaches storage
    assert(!SnapshotStore.read(spark, base).get.columns.contains("__del"))

    // empty batch (all deletes of absent keys, no file can match): no-op
    val versions = SnapshotStore.versions(spark, base).size
    val changes2 = Seq((77777L, 0L, true)).toDF("k", "v", "__del")
    assert(SnapshotStore.mergeKeyed(spark, base, changes2, "k", col("__del")) === 0)
    assert(SnapshotStore.versions(spark, base).size === versions)
  }

  test("restore: metadata-only rollback revives old files and their stats") {
    import spark.implicits._
    val base = tmp("snaprestore")
    val d0 = spark.range(100).select(col("id"), (col("id") % 100).as("user_id"))
      .repartitionByRange(4, col("user_id"))
    SnapshotStore.commitReplace(spark, base, d0, statsCols = Seq("user_id"))
    val v0 = SnapshotStore.versions(spark, base).max
    val v0Files = SnapshotStore.listFiles(spark, base).toSet
    SnapshotStore.deleteRange(spark, base, "user_id", 0.0, 49.0,
      statsCols = Seq("user_id"))
    assert(SnapshotStore.read(spark, base).get.count() === 50L)

    SnapshotStore.restore(spark, base, v0)
    // a NEW version whose content and file set equal v0 — no rewrite
    assert(SnapshotStore.versions(spark, base).max > v0 + 0)
    assert(SnapshotStore.listFiles(spark, base).toSet === v0Files,
      "restore must re-reference v0's files, not copy them")
    assert(SnapshotStore.read(spark, base).get.count() === 100L)
    // revived stats still prune: a range held by one clustered file
    val pruned = SnapshotStore.pruneFiles(spark, base, "user_id", 10.0, 20.0)
    assert(pruned.size <= 1, s"stats lost on restore: ${pruned.size} files match")
    // restoring a never-written version throws
    intercept[java.io.FileNotFoundException] {
      SnapshotStore.restore(spark, base, 9999L)
    }
  }

  test("updateRange: pruned partial rewrite; SET sees the old row; schema stable") {
    import spark.implicits._
    val base = tmp("snapupd")
    val d = spark.range(1000).select(col("id").as("a"), (col("id") * 10).as("b"),
        (col("id") % 1000).as("user_id"))
      .repartitionByRange(10, col("user_id"))
    SnapshotStore.commitReplace(spark, base, d, statsCols = Seq("user_id"))
    val before = SnapshotStore.listFiles(spark, base)
    assert(before.size === 10)

    // swap a and b for users 150–249: both SETs must see the OLD row
    val rewritten = SnapshotStore.updateRange(spark, base, "user_id",
      150.0, 249.0, set = Map("a" -> col("b"), "b" -> col("a")),
      statsCols = Seq("user_id"))
    assert(rewritten <= 2, s"update rewrote $rewritten files — pruning broke")
    val after = SnapshotStore.listFiles(spark, base)
    assert(before.toSet.intersect(after.toSet).size === before.size - rewritten,
      "untouched files must carry over by reference")
    val rows = SnapshotStore.read(spark, base).get
      .select("user_id", "a", "b").as[(Long, Long, Long)].collect()
    assert(rows.length === 1000)
    rows.foreach { case (u, a, b) =>
      if (u >= 150 && u <= 249) assert(a === u * 10 && b === u, s"user $u")
      else assert(a === u && b === u * 10, s"user $u")
    }
    // schema stable: SET value cast back to the column's type
    val sch = SnapshotStore.read(spark, base).get.schema
    assert(sch("a").dataType.typeName === "long" &&
      sch("b").dataType.typeName === "long")

    // no-match range → metadata no-op, no new manifest
    val versions = SnapshotStore.versions(spark, base).size
    assert(SnapshotStore.updateRange(spark, base, "user_id", 5000.0, 6000.0,
      set = Map("a" -> lit(0L))) === 0)
    assert(SnapshotStore.versions(spark, base).size === versions)

    // extra predicate narrows inside the range; unknown SET column throws
    val r2 = SnapshotStore.updateRange(spark, base, "user_id", 0.0, 49.0,
      set = Map("b" -> lit(-1L)), statsCols = Seq("user_id"),
      extra = Some(col("a") % 2 === 0))
    assert(r2 >= 1)
    val head = SnapshotStore.read(spark, base).get
      .filter(col("user_id") <= 49).select("a", "b").as[(Long, Long)].collect()
    assert(head.nonEmpty)
    head.foreach { case (a, b) =>
      if (a % 2 == 0) assert(b === -1L) else assert(b === a * 10)
    }
    intercept[IllegalArgumentException] {
      SnapshotStore.updateRange(spark, base, "user_id", 0.0, 1.0,
        set = Map("nope" -> lit(1)))
    }
  }

  test("ttlExpire: aged rows roll up in place; fresh files carry by reference; re-run stable") {
    val base = tmp("ss-ttl")
    val df = Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L), // day < 10: expire
      (15L, "a", 100L), (16L, "b", 200L))            // fresh
      .toDF("day_no", "t", "v").repartitionByRange(2, col("day_no"))
    SnapshotStore.commitReplace(spark, base, df, statsCols = Seq("day_no"))
    val before = SnapshotStore.listFiles(spark, base)
    def weekly(d: org.apache.spark.sql.DataFrame) = d
      .groupBy((col("day_no") - pmod(col("day_no"), lit(7))).as("day_no"), col("t"))
      .agg(sum(col("v")).as("v")).select("day_no", "t", "v")
    val n = SnapshotStore.ttlExpire(spark, base, "day_no", 10.0, weekly,
      statsCols = Seq("day_no"))
    assert(n >= 1, "at least the old-day file must rewrite")
    def snapshot(): Seq[(Long, String, Long)] =
      SnapshotStore.read(spark, base).get.orderBy("day_no", "t").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val got = snapshot()
    assert(got === Seq((0L, "a", 30L), (0L, "b", 5L),
      (15L, "a", 100L), (16L, "b", 200L)))
    // the fresh file's stats exclude the TTL range -> carried by reference
    val after = SnapshotStore.listFiles(spark, base)
    assert(before.exists(after.contains),
      "a file outside the TTL range must carry over without rewrite")
    // second pass at the same cutoff: re-aggregating the rolled rows
    // with no new expired raws is content-stable (part-merge semantics)
    SnapshotStore.ttlExpire(spark, base, "day_no", 10.0, weekly,
      statsCols = Seq("day_no"))
    assert(snapshot() === got)
    // a rollup that drifts the schema is rejected before any commit
    intercept[IllegalArgumentException] {
      SnapshotStore.ttlExpire(spark, base, "day_no", 50.0,
        d => d.groupBy(col("day_no")).agg(sum(col("v")).as("v")))
    }
    assert(snapshot() === got, "failed TTL must not tear the snapshot")
  }

  test("a stats commit runs one job (the write); building read frames runs none") {
    val base = tmp("ss-jobs")
    val commitJobs = jobsIn(SnapshotStore.commitReplace(spark, base,
      spark.range(0, 400, 1, 4).toDF("id"), statsCols = Seq("id")))
    assert(commitJobs === 1, s"stats commit ran $commitJobs jobs")
    SnapshotStore.commitAppend(spark, base, spark.range(400, 800, 1, 4).toDF("id"),
      statsCols = Seq("id"))
    assert(SnapshotStore.listFiles(spark, base).size === 8)
    var frames = Seq.empty[org.apache.spark.sql.DataFrame]
    val readJobs = jobsIn {
      frames = Seq(SnapshotStore.read(spark, base), SnapshotStore.readVersion(spark, base, 0L),
        SnapshotStore.readRange(spark, base, "id", 100, 500),
        SnapshotStore.changesBetween(spark, base, 0L, 1L)).flatten
    }
    assert(readJobs === 0, s"building read frames ran $readJobs jobs")
    assert(frames.map(_.count()) === Seq(800L, 400L, 401L, 400L))
  }

  test("footer bounds: each mapped type's [lo, hi] is the cast(double) min/max, widened") {
    val base = tmp("ss-types")
    val x = col("id") - 150
    def nullEvery10(c: org.apache.spark.sql.Column) = when(col("id") % 10 =!= 0, c)
    val mapped = Seq(
      "b" -> (x % 128).cast("byte"), "s" -> (x * 100).cast("short"), "i" -> (x * 1000003).cast("int"),
      "l" -> (lit(Long.MaxValue) - col("id") * 3), // above 2^53: rounds as a double
      "f" -> (x / 7.0).cast("float"), "d" -> x / 3.0,
      "dec9" -> (x / 7).cast("decimal(9,3)"), "dec18" -> (x * 123456789L / 7).cast("decimal(18,4)"),
      "dec30" -> (x * 1e15 / 7).cast("decimal(30,5)"),
      "sparse" -> when(col("id") >= 100, x)) // all null in the first file
    val unmapped = Seq("nothing" -> lit(null).cast("long"), "str" -> x.cast("string"))
    // three files of 100 ids each: range partitions write one file apiece
    val df = spark.range(0, 300, 1, 3).select(col("id") +: (mapped ++ unmapped).map {
      case (n, c) => nullEvery10(c).as(n) }: _*)
    val statsCols = (mapped ++ unmapped).map(_._1)
    SnapshotStore.commitReplace(spark, base, df, statsCols = statsCols)
    val st = SnapshotStore.fileStats(spark, base)
    assert(st.size === 3)
    st.foreach { case (rel, cols) =>
      val file = spark.read.parquet(s"$base/data/$rel")
      assert(!cols.contains("nothing") && !cols.contains("str"), s"$rel: $cols")
      mapped.map(_._1).foreach { c =>
        val vs = file.select(col(c).cast("double")).collect().filterNot(_.isNullAt(0))
          .map(_.getDouble(0))
        if (vs.isEmpty) assert(!cols.contains(c), s"$rel: all-null $c has a bound")
        else {
          val (lo, hi) = cols(c)
          assert(vs.forall(v => lo <= v && v <= hi), s"$rel $c: [$lo, $hi] misses a value")
          assert((lo, hi) === ((Math.nextDown(vs.min), Math.nextUp(vs.max))), s"$rel $c")
        }
      }
    }
    assert(st.values.count(_.contains("sparse")) === 2)
  }

  test("a NaN in a stats column never hides its file from range reads and rewrites") {
    val base = tmp("ss-nan")
    val x = when(col("id") === 150, lit(Double.NaN)).otherwise(col("id").cast("double"))
    // four files of 100 ids; the second holds the NaN and in-range values
    SnapshotStore.commitReplace(spark, base,
      spark.range(0, 400, 1, 4).select(col("id"), x.as("x")), statsCols = Seq("x"))
    def ids(df: org.apache.spark.sql.DataFrame) = df.select("id").as[Long].collect().toSet
    val inRange = col("x") >= 180 && col("x") <= 220
    val expect = ids(SnapshotStore.read(spark, base).get.filter(inRange))
    assert(expect === (180L to 220L).toSet)
    assert(ids(SnapshotStore.readRange(spark, base, "x", 180, 220).get) === expect)
    SnapshotStore.deleteRange(spark, base, "x", 180, 220, statsCols = Seq("x"))
    assert(ids(SnapshotStore.read(spark, base).get) === (0L until 400L).toSet -- expect)
    // a NaN bound already on disk (as older manifests may hold) is no bound
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val v = SnapshotStore.versions(spark, base).last
    def manifest(v: Long) = new org.apache.hadoop.fs.Path(f"$base/_manifests/m$v%010d")
    val in = fs.open(manifest(v))
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val out = fs.create(manifest(v + 1))
    try out.write(text.replaceAll("x=[^;\n]*", "x=0.0,NaN").getBytes("UTF-8")) finally out.close()
    assert(SnapshotStore.fileStats(spark, base).values.forall(_.isEmpty))
    assert(SnapshotStore.pruneFiles(spark, base, "x", 300, 310).size ===
      SnapshotStore.listFiles(spark, base).size)
  }
}
