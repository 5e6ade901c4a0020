package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the transaction log (sources/TxnLog): serial create-
  * exclusive commits, snapshot resolution as pure log algebra, content
  * identity across a compaction commit, O(transaction) change sets, and
  * the vacuum retention floor (head stays readable; time travel below
  * the floor fails at READ, never silently returns partial data). */
class TxnLogSpec extends AnyFunSuite {
  import TestSpark.spark
  import graft.sources.TxnLog
  import org.apache.spark.sql.functions._

  private def freshTable(tag: String): (String, String, Seq[String]) = {
    val root = TestSpark.scratchDir(s"graft-txnlog-$tag").toString
    val logDir = s"$root/_log"
    val objs = (0 to 2).map { i =>
      val d = s"$root/o$i"
      spark.range(i * 100L, (i + 1) * 100L).toDF("id")
        .withColumn("payload", md5(col("id").cast("string")))
        .write.mode("overwrite").parquet(d)
      d
    }
    (root, logDir, objs)
  }

  test("commit: serial history enforced, create-exclusive on replay") {
    val (_, logDir, o) = freshTable("serial")
    assert(TxnLog.latestVersion(spark, logDir) == -1L)
    TxnLog.commit(spark, logDir, 0L, adds = Seq(o(0)))
    // version gaps and duplicates both fail before any file is visible
    intercept[IllegalArgumentException] {
      TxnLog.commit(spark, logDir, 2L, adds = Seq(o(1)))
    }
    intercept[IllegalArgumentException] {
      TxnLog.commit(spark, logDir, 0L, adds = Seq(o(1)))
    }
    TxnLog.commit(spark, logDir, 1L, adds = Seq(o(1)))
    assert(TxnLog.latestVersion(spark, logDir) == 1L)
    // the atomic-publish backstop: a racing writer that passed the serial
    // check still loses on the exclusive create of the commit file
    intercept[java.io.IOException] {
      val f = new org.apache.hadoop.fs.Path(logDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.create(new org.apache.hadoop.fs.Path(
        logDir, f"${1L}%020d.commit"), false)
    }
  }

  test("two writers racing the same version: exactly one commit " +
    "publishes, the log holds exactly one file for it") {
    val (_, logDir, o) = freshTable("race")
    TxnLog.commit(spark, logDir, 0L, adds = Seq(o(0)))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = Seq(o(1), o(2)).map { obj =>
      new Thread(() => {
        barrier.await()
        try { TxnLog.commit(spark, logDir, 1L, adds = Seq(obj)); wins.incrementAndGet() }
        catch {
          // loser fails either at the serial check (saw the winner's
          // commit) or at the create-exclusive publish (raced past it)
          case _: IllegalArgumentException | _: java.io.IOException =>
            losses.incrementAndGet()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(wins.get() == 1 && losses.get() == 1, s"${wins.get()}/${losses.get()}")
    val log = TxnLog.readLog(spark, logDir)
    assert(log.count(_.version == 1L) == 1, log.toString)
    // the winner's object is the live one; no partial commit leaked
    assert(TxnLog.liveFiles(log, 1L).size == 2)
  }

  test("liveFiles: add/remove algebra, corruption fails loudly") {
    val a = Seq(
      TxnLog.Action(0, "add", "p0"),
      TxnLog.Action(1, "add", "p1"),
      TxnLog.Action(2, "remove", "p0"),
      TxnLog.Action(2, "add", "p2"))
    assert(TxnLog.liveFiles(a, 0) == Seq("p0"))
    assert(TxnLog.liveFiles(a, 1) == Seq("p0", "p1"))
    assert(TxnLog.liveFiles(a, 2) == Seq("p1", "p2"))
    intercept[IllegalArgumentException] { TxnLog.liveFiles(a, 3) }
    intercept[IllegalArgumentException] {
      TxnLog.liveFiles(a :+ TxnLog.Action(3, "add", "p1"), 3)
    }
    intercept[IllegalArgumentException] {
      TxnLog.liveFiles(a :+ TxnLog.Action(3, "remove", "p0"), 3)
    }
  }

  test("compaction commit is a content no-op; every older version intact") {
    val (root, logDir, o) = freshTable("compact")
    TxnLog.commit(spark, logDir, 0L, adds = Seq(o(0), o(1)))
    TxnLog.commit(spark, logDir, 1L, adds = Seq(o(2)))
    val compacted = s"$root/c01"
    spark.read.parquet(o(0), o(1)).coalesce(1)
      .write.mode("overwrite").parquet(compacted)
    TxnLog.commit(spark, logDir, 2L, adds = Seq(compacted),
      removes = Seq(o(0), o(1)))

    val before = TxnLog.readSnapshot(spark, logDir, 1L)
    val after = TxnLog.readSnapshot(spark, logDir, 2L)
    assert(after.count() == 300L)
    assert(before.exceptAll(after).isEmpty && after.exceptAll(before).isEmpty)
    // v0 still resolves to the pre-compaction objects
    assert(TxnLog.liveFiles(TxnLog.readLog(spark, logDir), 0L) ==
      Seq(o(0), o(1)))
  }

  test("changedBetween: O(transaction) footprint, in-range add+remove " +
    "cancels") {
    val a = Seq(
      TxnLog.Action(0, "add", "p0"),
      TxnLog.Action(1, "add", "p1"),     // ingested...
      TxnLog.Action(2, "remove", "p1"),  // ...then compacted away in-range
      TxnLog.Action(2, "add", "p2"),
      TxnLog.Action(3, "remove", "p0"),
      TxnLog.Action(3, "add", "p3"))
    // (0, 2]: p1 cancels out — its content sits identically on both sides
    assert(TxnLog.changedBetween(a, 0, 2) == (Seq("p2"), Seq[String]()))
    assert(TxnLog.changedBetween(a, 2, 3) == (Seq("p3"), Seq("p0")))
    intercept[IllegalArgumentException] { TxnLog.changedBetween(a, 2, 2) }
  }

  test("idempotentCommit: a replayed external txn id refuses; uncommitted " +
    "objects are invisible to log-resolved reads") {
    val (root, logDir, o) = freshTable("idem")
    assert(TxnLog.idempotentCommit(spark, logDir, 0L, adds = Seq(o(0))))
    assert(TxnLog.idempotentCommit(spark, logDir, 1L, adds = Seq(o(1))))
    // the at-least-once replay: same version re-presented -> refused,
    // log byte-identical (no new commit file, same live set)
    assert(!TxnLog.idempotentCommit(spark, logDir, 0L, adds = Seq(o(2))))
    assert(TxnLog.latestVersion(spark, logDir) == 1L)
    assert(TxnLog.liveFiles(TxnLog.readLog(spark, logDir), 1L) ==
      Seq(o(0), o(1)))
    // a crashed writer's half-written object: present in the directory,
    // named by no commit -> the snapshot read never sees it
    spark.range(5).toDF("id")
      .withColumn("payload", lit("GARBAGE"))
      .write.mode("overwrite").parquet(s"$root/orphan")
    val snap = TxnLog.readSnapshot(spark, logDir, 1L)
    assert(snap.count() == 200L)
    assert(snap.where(col("payload") === "GARBAGE").isEmpty)
  }

  test("vacuum: a path removed below the floor but RE-added after it is " +
    "live data and is never reclaimed") {
    val (_, logDir, o) = freshTable("vacreadd")
    TxnLog.commit(spark, logDir, 0L, adds = Seq(o(0), o(1)))
    TxnLog.commit(spark, logDir, 1L, removes = Seq(o(1))) // archived...
    TxnLog.commit(spark, logDir, 2L, adds = Seq(o(1)))    // ...restored
    TxnLog.commit(spark, logDir, 3L, adds = Seq(o(2)))
    // o(1) was removed at v1 <= retain=2, but its v2 re-add makes it live
    // in every snapshot >= 2 — reclaiming it would be irreversible loss
    assert(TxnLog.vacuumCandidates(TxnLog.readLog(spark, logDir), 2L)
      .isEmpty)
    assert(TxnLog.vacuum(spark, logDir, 2L).isEmpty)
    assert(TxnLog.readSnapshot(spark, logDir, 3L).count() == 300L)
    // same-path shape where reclaim IS legal: dead at the floor, never
    // re-added after it
    val (_, logDir2, p) = freshTable("vacdead")
    TxnLog.commit(spark, logDir2, 0L, adds = Seq(p(0), p(1)))
    TxnLog.commit(spark, logDir2, 1L, removes = Seq(p(1)))
    TxnLog.commit(spark, logDir2, 2L, adds = Seq(p(2)))
    assert(TxnLog.vacuumCandidates(TxnLog.readLog(spark, logDir2), 2L) ==
      Seq(p(1)))
  }

  test("torn writes are detected at read: a truncated or terminator-less " +
    "commit file fails loudly, never parses as fewer actions") {
    val (_, logDir, o) = freshTable("torn")
    TxnLog.commit(spark, logDir, 0L, adds = Seq(o(0)))
    val dir = java.nio.file.Paths.get(new java.net.URI(
      new org.apache.hadoop.fs.Path(logDir).toUri.toString).getPath)
    // an empty commit file (crash between create and write)
    java.nio.file.Files.write(dir.resolve(f"${1L}%020d.commit"),
      Array.emptyByteArray)
    val e1 = intercept[IllegalArgumentException] {
      TxnLog.readLog(spark, logDir)
    }
    assert(e1.getMessage.contains("torn"), e1.getMessage)
    // a body truncated AT a newline boundary: well-formed lines, but the
    // trailing actions (and the terminator) are gone
    java.nio.file.Files.write(dir.resolve(f"${1L}%020d.commit"),
      s"add\t${o(1)}\n".getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException] {
      TxnLog.readLog(spark, logDir)
    }
    assert(e2.getMessage.contains("terminator"), e2.getMessage)
    // terminator disagreeing with the body (mid-line truncation repaired
    // by a partial flush) also fails
    java.nio.file.Files.write(dir.resolve(f"${1L}%020d.commit"),
      s"add\t${o(1)}\ncommit\t2\n".getBytes("UTF-8"))
    val e3 = intercept[IllegalArgumentException] {
      TxnLog.readLog(spark, logDir)
    }
    assert(e3.getMessage.contains("declares"), e3.getMessage)
    // repair the file through the real protocol shape and the log reads
    java.nio.file.Files.write(dir.resolve(f"${1L}%020d.commit"),
      s"add\t${o(1)}\ncommit\t1\n".getBytes("UTF-8"))
    assert(TxnLog.liveFiles(TxnLog.readLog(spark, logDir), 1L) ==
      Seq(o(0), o(1)))
  }

  test("idempotentCommit: two concurrent presenters of the same version " +
    "yield exactly one true — the loser dedups to false, never throws") {
    val (_, logDir, o) = freshTable("idemrace")
    TxnLog.commit(spark, logDir, 0L, adds = Seq(o(0)))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(o(1), o(2)).map { obj =>
      new Thread(() => {
        barrier.await()
        try results.add(
          TxnLog.idempotentCommit(spark, logDir, 1L, adds = Seq(obj)))
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toString)
    val rs = results.iterator()
    val seq = Seq(rs.next(), rs.next())
    assert(seq.count(identity) == 1, seq.toString)
    assert(TxnLog.latestVersion(spark, logDir) == 1L)
  }

  test("checkpointed log: resolution reads one checkpoint + the tail — " +
    "proven by physically deleting every commit at or below the " +
    "checkpoint and still resolving") {
    val (root, logDir, o) = freshTable("ckpt")
    TxnLog.commit(spark, logDir, 0L, adds = Seq(o(0)), checkpointEvery = 2)
    TxnLog.commit(spark, logDir, 1L, adds = Seq(o(1)), checkpointEvery = 2)
    TxnLog.commit(spark, logDir, 2L, adds = Seq(o(2)),
      removes = Seq(o(0)), checkpointEvery = 2)
    val rewrite = s"$root/o0_rw"
    spark.read.parquet(o(0)).limit(50)
      .write.mode("overwrite").parquet(rewrite)
    TxnLog.commit(spark, logDir, 3L, adds = Seq(rewrite),
      checkpointEvery = 2)
    // checkpoint exists at v2; resolution at 2 and 3 must match full replay
    val full = TxnLog.readLog(spark, logDir)
    assert(TxnLog.liveFilesAt(spark, logDir, 2L) ==
      TxnLog.liveFiles(full, 2L))
    assert(TxnLog.liveFilesAt(spark, logDir, 3L) ==
      TxnLog.liveFiles(full, 3L))
    assert(TxnLog.readSnapshot(spark, logDir, 3L).count() == 250L)
    // the proof resolution never opens the pre-checkpoint commits:
    // delete them; checkpoint-based resolution still succeeds verbatim
    val dir = java.nio.file.Paths.get(new java.net.URI(logDir).getPath)
    (0L to 2L).foreach { v =>
      java.nio.file.Files.delete(dir.resolve(f"$v%020d.commit"))
    }
    assert(TxnLog.liveFilesAt(spark, logDir, 3L) ==
      TxnLog.liveFiles(full, 3L))
    assert(TxnLog.liveFilesAt(spark, logDir, 2L) ==
      TxnLog.liveFiles(full, 2L))
    assert(TxnLog.readSnapshot(spark, logDir, 3L).count() == 250L)
  }

  test("checkpoint WRITING resolves through the previous checkpoint: a " +
    "new checkpoint lands correctly with every pre-checkpoint commit " +
    "physically gone") {
    val (_, logDir, o) = freshTable("ckptchain")
    TxnLog.commit(spark, logDir, 0L, adds = Seq(o(0)), checkpointEvery = 2)
    TxnLog.commit(spark, logDir, 1L, adds = Seq(o(1)), checkpointEvery = 2)
    TxnLog.commit(spark, logDir, 2L, adds = Seq(o(2)),
      removes = Seq(o(0)), checkpointEvery = 2) // checkpoint at 2
    val dir = java.nio.file.Paths.get(new java.net.URI(logDir).getPath)
    (0L to 1L).foreach { v =>
      java.nio.file.Files.delete(dir.resolve(f"$v%020d.commit"))
    }
    // the NEXT checkpoint (at v4) must build from checkpoint-2 + tail —
    // a full-log replay would fail on the deleted commits
    TxnLog.commit(spark, logDir, 3L, adds = Seq(s"${o(0)}-x3"),
      checkpointEvery = 2)
    TxnLog.commit(spark, logDir, 4L, adds = Seq(s"${o(0)}-x4"),
      removes = Seq(o(1)), checkpointEvery = 2) // checkpoint at 4
    assert(TxnLog.lastCheckpointAtOrBefore(spark, logDir, 4L)
      .contains(4L))
    // and RESTORE goes through checkpoints too (no full-history read)
    val v5 = TxnLog.restore(spark, logDir, 2L)
    assert(v5 == 5L)
    assert(TxnLog.liveFilesAt(spark, logDir, 5L).toSet ==
      Set(o(1), o(2)))
  }

  test("commitRetry: concurrent DISJOINT commits both land at " +
    "consecutive versions; an overlapping commit conflicts loudly") {
    val (_, logDir, o) = freshTable("occ")
    TxnLog.commit(spark, logDir, 0L, adds = Seq(o(0)))
    // two writers, both read v0, commit disjoint file sets concurrently
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(o(1), o(2)).map { obj =>
      new Thread(() => {
        barrier.await()
        try landed.add(TxnLog.commitRetry(spark, logDir,
          readVersion = 0L, adds = Seq(obj)))
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toString)
    assert(landed.size == 2)
    val vs = { val it = landed.iterator(); Seq(it.next(), it.next()) }
    assert(vs.toSet == Set(1L, 2L), vs.toString)
    assert(TxnLog.liveFiles(TxnLog.readLog(spark, logDir), 2L).toSet ==
      Set(o(0), o(1), o(2)))
    // overlap: a writer that read v0 and removes o(1) — which a later
    // commit (v1 or v2) added — is a write-write conflict, loud
    intercept[TxnLog.CommitConflictException] {
      TxnLog.commitRetry(spark, logDir, readVersion = 0L,
        adds = Nil, removes = Seq(o(1)))
    }
    // the same intent declared against the CURRENT snapshot is legal
    val v3 = TxnLog.commitRetry(spark, logDir, readVersion = 2L,
      adds = Nil, removes = Seq(o(1)))
    assert(v3 == 3L)
    assert(TxnLog.liveFiles(TxnLog.readLog(spark, logDir), 3L).toSet ==
      Set(o(0), o(2)))
  }

  test("stats ride the log: written once at commit time, served from " +
    "metadata alone, carried forward through a checkpoint") {
    val (_, logDir, o) = freshTable("stats")
    TxnLog.commit(spark, logDir, 0L, adds = Seq(o(0), o(1)),
      stats = Map(o(0) -> "0,99", o(1) -> "100,199"), checkpointEvery = 1)
    TxnLog.commit(spark, logDir, 1L, adds = Seq(o(2)),
      stats = Map(o(2) -> "200,299"), checkpointEvery = 1)
    val live = TxnLog.liveActionsAt(spark, logDir, 1L)
    assert(live.map(a => a.path -> a.stats.get) ==
      Seq(o(0) -> "0,99", o(1) -> "100,199", o(2) -> "200,299"))
    // prune from the log alone: only the object whose [lo,hi] overlaps
    val picked = live.filter { a =>
      val Array(lo, hi) = a.stats.get.split(',').map(_.toLong)
      lo <= 150L && hi >= 120L
    }
    assert(picked.map(_.path) == Seq(o(1)))
    // the checkpoint at v1 carries the v0 stats forward: delete the v0
    // commit, stats still resolve
    val dir = java.nio.file.Paths.get(new java.net.URI(logDir).getPath)
    java.nio.file.Files.delete(dir.resolve(f"${0L}%020d.commit"))
    assert(TxnLog.liveActionsAt(spark, logDir, 1L)
      .map(a => a.path -> a.stats.get) ==
      Seq(o(0) -> "0,99", o(1) -> "100,199", o(2) -> "200,299"))
  }

  test("restore: one appended commit returns the head to an older " +
    "snapshot; history is preserved; re-restore is a no-op") {
    val (root, logDir, o) = freshTable("restore")
    TxnLog.commit(spark, logDir, 0L, adds = Seq(o(0), o(1)))
    val rw = s"$root/o1_rw"
    spark.read.parquet(o(1)).where(col("id") % 2 === 0)
      .write.mode("overwrite").parquet(rw)
    TxnLog.commit(spark, logDir, 1L, adds = Seq(rw), removes = Seq(o(1)))
    TxnLog.commit(spark, logDir, 2L, adds = Seq(o(2)))
    assert(TxnLog.restore(spark, logDir, 0L) == 3L)
    val log = TxnLog.readLog(spark, logDir)
    assert(TxnLog.liveFiles(log, 3L).toSet == Set(o(0), o(1)))
    assert(TxnLog.readSnapshot(spark, logDir, 3L).count() == 200L)
    // every pre-restore version is still readable history
    assert(TxnLog.readSnapshot(spark, logDir, 2L).count() == 250L)
    // restoring to the current content commits nothing
    assert(TxnLog.restore(spark, logDir, 3L) == 3L)
    assert(TxnLog.latestVersion(spark, logDir) == 3L)
  }

  test("shallowClone: a zero-copy fork references the source's objects " +
    "and diverges independently") {
    val (root, srcLog, o) = freshTable("clonesrc")
    TxnLog.commit(spark, srcLog, 0L, adds = Seq(o(0), o(1)),
      stats = Map(o(0) -> "s0", o(1) -> "s1"))
    val dstLog = s"$root/_clone_log"
    TxnLog.shallowClone(spark, srcLog, 0L, dstLog)
    // stats ride the clone; objects are the SOURCE's (zero copy)
    assert(TxnLog.liveActionsAt(spark, dstLog, 0L)
      .map(a => a.path -> a.stats.get) == Seq(o(0) -> "s0", o(1) -> "s1"))
    // diverge both sides; neither sees the other's transaction
    TxnLog.commit(spark, dstLog, 1L, removes = Seq(o(1)))
    TxnLog.commit(spark, srcLog, 1L, adds = Seq(o(2)))
    assert(TxnLog.readSnapshot(spark, dstLog, 1L).count() == 100L)
    assert(TxnLog.readSnapshot(spark, srcLog, 1L).count() == 300L)
  }

  test("vacuumOrphans: reclaims only log-unreferenced objects older " +
    "than the grace horizon; referenced and in-flight objects survive") {
    val (root, logDir, o) = freshTable("gc")
    TxnLog.commit(spark, logDir, 0L, adds = Seq(o(0), o(1), o(2)))
    TxnLog.commit(spark, logDir, 1L, removes = Seq(o(1))) // removed, but NAMED
    // a crashed writer's half-written object: present, never committed
    spark.range(7).toDF("id").write.mode("overwrite")
      .parquet(s"$root/orphan")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$root/orphan")).getModificationTime
    // inside the grace window: presumed in-flight, nothing reclaimed
    assert(TxnLog.vacuumOrphans(spark, root, logDir,
      graceMs = 3600L * 1000, nowMs = now).isEmpty)
    // past the grace window: exactly the orphan goes — o(1) was removed
    // but the log NAMES it (vacuum's business, not GC's), o(0)/o(2) live
    val deleted = TxnLog.vacuumOrphans(spark, root, logDir,
      graceMs = 1000L, nowMs = now + 10000L)
    assert(deleted.map(p => p.substring(p.lastIndexOf('/') + 1)) ==
      Seq("orphan"), deleted.toString)
    assert(TxnLog.readSnapshot(spark, logDir, 1L).count() == 200L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(o(1))))
    // idempotent: a second sweep finds nothing
    assert(TxnLog.vacuumOrphans(spark, root, logDir,
      graceMs = 1000L, nowMs = now + 10000L).isEmpty)
  }

  test("schema in the log: declared at v0, enforced on adds, evolved by " +
    "widening/add-nullable-column only, resolved through a checkpoint") {
    import org.apache.spark.sql.types._
    val (root, logDir, _) = freshTable("schema")
    val v1Schema = StructType(Seq(
      StructField("id", LongType), StructField("payload", StringType)))
    val v2Schema = v1Schema.add(StructField("score", DoubleType,
      nullable = true))
    // v1-generation data object (id, payload)
    val gen1 = s"$root/gen1"
    spark.range(10).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
      .write.mode("overwrite").parquet(gen1)
    TxnLog.commit(spark, logDir, 0L, adds = Seq(gen1),
      meta = Some(v1Schema.json), addsSchema = Some(v1Schema.json),
      checkpointEvery = 2)
    // an add whose columns disagree with the declared schema is rejected
    val rogue = s"$root/rogue"
    val rogueSchema = StructType(Seq(StructField("id", LongType),
      StructField("other", StringType)))
    val e1 = intercept[IllegalArgumentException] {
      TxnLog.commit(spark, logDir, 1L, adds = Seq(rogue),
        addsSchema = Some(rogueSchema.json))
    }
    assert(e1.getMessage.contains("disagree"), e1.getMessage)
    // illegal evolutions fail loudly: dropping a column, narrowing a type
    val dropped = StructType(Seq(StructField("id", LongType)))
    val e2 = intercept[IllegalArgumentException] {
      TxnLog.commit(spark, logDir, 1L, meta = Some(dropped.json))
    }
    assert(e2.getMessage.contains("evolution"), e2.getMessage)
    val narrowed = StructType(Seq(StructField("id", IntegerType),
      StructField("payload", StringType)))
    intercept[IllegalArgumentException] {
      TxnLog.commit(spark, logDir, 1L, meta = Some(narrowed.json))
    }
    // legal evolution: append a nullable column; v2-generation data lands
    val gen2 = s"$root/gen2"
    spark.range(10, 20).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
      .withColumn("score", col("id").cast("double") / 10.0)
      .write.mode("overwrite").parquet(gen2)
    TxnLog.commit(spark, logDir, 1L, adds = Seq(gen2),
      meta = Some(v2Schema.json), addsSchema = Some(v2Schema.json),
      checkpointEvery = 2)
    TxnLog.commit(spark, logDir, 2L, removes = Seq(), adds = Seq(),
      meta = Some(v2Schema.json), checkpointEvery = 2) // schema-only no-op
    // schema resolves per version, and THROUGH the checkpoint: delete the
    // pre-checkpoint commits, the checkpoint at v2 still serves it
    assert(TxnLog.schemaAtVersion(spark, logDir, 0L).contains(v1Schema.json))
    assert(TxnLog.schemaAtVersion(spark, logDir, 2L).contains(v2Schema.json))
    val dir = java.nio.file.Paths.get(new java.net.URI(logDir).getPath)
    (0L to 1L).foreach { v =>
      java.nio.file.Files.delete(dir.resolve(f"$v%020d.commit"))
    }
    assert(TxnLog.schemaAtVersion(spark, logDir, 2L).contains(v2Schema.json))
    // the evolved read serves BOTH generations under the declared schema:
    // v1 files yield null for the appended column
    val snap = TxnLog.readSnapshot(spark, logDir, 2L)
    assert(snap.schema.fieldNames.toSeq == Seq("id", "payload", "score"))
    assert(snap.count() == 20L)
    assert(snap.where(col("score").isNull).count() == 10L)
    // a clone carries the schema
    val dstLog = s"$root/_clone_log"
    TxnLog.shallowClone(spark, logDir, 2L, dstLog)
    assert(TxnLog.schemaAtVersion(spark, dstLog, 0L).contains(v2Schema.json))
  }

  test("schema widening evolution: int->long / float->double files stay " +
    "readable under the widened log schema (upcast at read)") {
    import org.apache.spark.sql.types._
    val root = TestSpark.scratchDir("graft-txnlog-widen").toString
    val logDir = s"$root/_log"
    val narrow = s"$root/narrow"
    spark.range(5).select(col("id").cast("int").as("k"),
      col("id").cast("float").as("f"))
      .write.mode("overwrite").parquet(narrow)
    val sNarrow = StructType(Seq(StructField("k", IntegerType),
      StructField("f", FloatType)))
    val sWide = StructType(Seq(StructField("k", LongType),
      StructField("f", DoubleType)))
    TxnLog.commit(spark, logDir, 0L, adds = Seq(narrow),
      meta = Some(sNarrow.json), addsSchema = Some(sNarrow.json))
    // widening is a legal evolution; narrowing back is not
    TxnLog.commit(spark, logDir, 1L, meta = Some(sWide.json))
    intercept[IllegalArgumentException] {
      TxnLog.commit(spark, logDir, 2L, meta = Some(sNarrow.json))
    }
    // the pre-evolution int32/float file serves under the widened
    // schema — the parquet reader upcasts losslessly, which is exactly
    // why schemaEvolutionOk admits these pairs and only these
    val snap = TxnLog.readSnapshot(spark, logDir, 1L)
    assert(snap.schema == sWide)
    assert(snap.agg(org.apache.spark.sql.functions.sum("k"))
      .head().getLong(0) == 10L)
  }

  test("commitRetry: an intervening schema change conflicts with a " +
    "schema-declaring writer instead of committing against a stale read") {
    import org.apache.spark.sql.types._
    val (_, logDir, o) = freshTable("schemaocc")
    val s1 = StructType(Seq(StructField("id", LongType)))
    val s2 = s1.add(StructField("a", StringType, nullable = true))
    val s3 = s1.add(StructField("b", StringType, nullable = true))
    TxnLog.commit(spark, logDir, 0L, adds = Seq(o(0)), meta = Some(s1.json))
    // another writer evolves the schema after our read
    TxnLog.commit(spark, logDir, 1L, meta = Some(s2.json))
    intercept[TxnLog.CommitConflictException] {
      TxnLog.commitRetry(spark, logDir, readVersion = 0L,
        adds = Seq(o(1)), meta = Some(s3.json))
    }
    // a plain disjoint file append still commutes past the schema change
    assert(TxnLog.commitRetry(spark, logDir, readVersion = 0L,
      adds = Seq(o(2))) == 2L)
  }

  test("commitRetry: a persistent real I/O failure propagates as itself " +
    "instead of being retried ten times and reported as log churn") {
    // a regular FILE squatting on the log path: every publish attempt
    // fails with a real I/O error, not a publish race — POSIX permission
    // tricks don't work here (tests run as root, which bypasses them)
    val root = TestSpark.scratchDir("graft-txnlog-ioerr").toString
    val badLog = s"$root/_badlog"
    val dir = java.nio.file.Paths.get(new java.net.URI(badLog).getPath)
    java.nio.file.Files.createDirectories(dir.getParent)
    java.nio.file.Files.write(dir, "not a directory".getBytes("UTF-8"))
    val e = intercept[Exception] {
      TxnLog.commitRetry(spark, badLog, readVersion = -1L,
        adds = Seq(s"$root/p0"))
    }
    // the real failure surfaced directly — NOT the misleading
    // after-10-attempts churn message a blind IOException catch produced
    assert(e.getMessage == null || !e.getMessage.contains("did not land"),
      e.toString)
  }

  test("empty-live-set checkpoint: a removes-everything commit landing " +
    "on the checkpoint boundary stays resolvable at and past it") {
    val (_, logDir, o) = freshTable("emptyckpt")
    TxnLog.commit(spark, logDir, 0L, adds = Seq(o(0)), checkpointEvery = 2)
    TxnLog.commit(spark, logDir, 1L, adds = Seq(o(1)), checkpointEvery = 2)
    // v2 removes everything AND lands on the boundary -> empty checkpoint
    TxnLog.commit(spark, logDir, 2L, removes = Seq(o(0), o(1)),
      checkpointEvery = 2)
    assert(TxnLog.liveFilesAt(spark, logDir, 2L).isEmpty)
    // later versions resolve THROUGH the empty checkpoint
    TxnLog.commit(spark, logDir, 3L, adds = Seq(o(2)), checkpointEvery = 2)
    assert(TxnLog.liveFilesAt(spark, logDir, 3L) == Seq(o(2)))
    // an asOf past the head fails loudly on the checkpoint path too
    val e = intercept[IllegalArgumentException] {
      TxnLog.liveFilesAt(spark, logDir, 9L)
    }
    assert(e.getMessage.contains("past the latest"), e.getMessage)
  }

  test("gcCheckpoints: keeps the newest K and the pointer target; every " +
    "version still resolves afterwards (commits intact)") {
    val (_, logDir, o) = freshTable("ckptgc")
    // fake object paths are fine — resolution is pure metadata
    (0 to 9).foreach { v =>
      TxnLog.commit(spark, logDir, v.toLong, adds = Seq(s"${o(0)}-x$v"),
        removes = if (v >= 4 && v % 2 == 0) Seq(s"${o(0)}-x${v - 3}") else Nil,
        checkpointEvery = 2)
    }
    val full = TxnLog.readLog(spark, logDir)
    val before = (0L to 9L).map(v => TxnLog.liveFilesAt(spark, logDir, v))
    TxnLog.vacuum(spark, logDir, retain = 9L,
      keepCheckpoints = 2)
    // checkpoints existed at 2,4,6,8 -> GC keeps 6,8 (8 is the pointer)
    val f = new org.apache.hadoop.fs.Path(logDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val remaining = f.listStatus(new org.apache.hadoop.fs.Path(logDir))
      .map(_.getPath.getName).filter(_.endsWith(".checkpoint"))
      .map(_.stripSuffix(".checkpoint").toLong).sorted.toSeq
    assert(remaining == Seq(6L, 8L), remaining.toString)
    // resolution at EVERY version is unchanged: below 6 it falls back to
    // full replay or an older retained checkpoint — a checkpoint is a
    // shortcut, never state
    (0L to 9L).foreach { v =>
      assert(TxnLog.liveFilesAt(spark, logDir, v) == before(v.toInt),
        s"v=$v")
      assert(TxnLog.liveFilesAt(spark, logDir, v) ==
        TxnLog.liveFiles(full, v), s"v=$v")
    }
  }

  test("reader racing a live writer: every concurrent snapshot read " +
    "equals the committed snapshot at its version — never a torn mix") {
    val (_, logDir, o) = freshTable("rdwr")
    val nCommits = 40
    // deterministic action plan: v adds p$v, every third removes p${v-2}
    val plan: Seq[(Seq[String], Seq[String])] = (0 until nCommits).map { v =>
      (Seq(s"${o(0)}-p$v"),
        if (v % 3 == 2) Seq(s"${o(0)}-p${v - 2}") else Nil)
    }
    val actions = plan.zipWithIndex.flatMap { case ((as, rs), v) =>
      as.map(TxnLog.Action(v.toLong, "add", _)) ++
        rs.map(TxnLog.Action(v.toLong, "remove", _))
    }
    val expected = (0 until nCommits)
      .map(v => TxnLog.liveFiles(actions, v.toLong)).toIndexedSeq
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val writer = new Thread(() => {
      try plan.zipWithIndex.foreach { case ((as, rs), v) =>
        TxnLog.commit(spark, logDir, v.toLong, adds = as, removes = rs,
          checkpointEvery = 3)
      } catch { case t: Throwable => errs.add(t) }
      finally done.set(true)
    })
    val readers = (0 until 2).map(_ => new Thread(() => {
      try while (!done.get()) {
        val v = TxnLog.latestVersion(spark, logDir)
        if (v >= 0) {
          // isolation: resolving a committed version mid-publish of the
          // next one (and mid-overwrite of a checkpoint) must yield
          // EXACTLY that version's snapshot
          val got = TxnLog.liveFilesAt(spark, logDir, v)
          if (got != expected(v.toInt))
            errs.add(new AssertionError(
              s"torn read at v$v: got $got expected ${expected(v.toInt)}"))
          reads.incrementAndGet()
        }
      } catch { case t: Throwable => errs.add(t) }
    }))
    readers.foreach(_.start()); writer.start()
    writer.join(); readers.foreach(_.join())
    assert(errs.isEmpty, errs.toString)
    assert(reads.get() > 10, s"only ${reads.get()} concurrent reads")
    // and the final state is the planned one
    assert(TxnLog.liveFilesAt(spark, logDir, (nCommits - 1).toLong) ==
      expected(nCommits - 1))
  }

  test("vacuum: retention floor keeps every snapshot >= retain readable; " +
    "time travel below the floor fails at read") {
    val (root, logDir, o) = freshTable("vacuum")
    TxnLog.commit(spark, logDir, 0L, adds = Seq(o(0), o(1)))
    val rewrite = s"$root/o1_rw"
    spark.read.parquet(o(1)).where(col("id") % 2 === 0)
      .write.mode("overwrite").parquet(rewrite)
    TxnLog.commit(spark, logDir, 1L, adds = Seq(rewrite),
      removes = Seq(o(1)))
    TxnLog.commit(spark, logDir, 2L, adds = Seq(o(2)))

    // removed at v1 <= retain=1 -> reclaimable; nothing else is
    assert(TxnLog.vacuumCandidates(TxnLog.readLog(spark, logDir), 1L) ==
      Seq(o(1)))
    val deleted = TxnLog.vacuum(spark, logDir, 1L)
    assert(deleted == Seq(o(1)))

    // snapshots at and above the floor are fully readable
    assert(TxnLog.readSnapshot(spark, logDir, 1L).count() == 150L)
    assert(TxnLog.readSnapshot(spark, logDir, 2L).count() == 250L)
    // below the floor: resolution still names o(1), the read fails loudly
    intercept[org.apache.spark.sql.AnalysisException] {
      TxnLog.readSnapshot(spark, logDir, 0L).count()
    }
  }

  // ----- merge-on-read deletes (deletion vectors) ------------------------

  test("DV delete: rows vanish from the snapshot while the object's " +
    "bytes stay untouched; the vector grows by union; compaction " +
    "retires it; restore undeletes") {
    val (root, logDir, o) = freshTable("dv")
    TxnLog.commit(spark, logDir, 0L, adds = Seq(o(0)))

    def objFingerprint(dir: String): Seq[(String, Long, Long)] = {
      val f = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
        .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
        .sortBy(_._1)
    }
    val before = objFingerprint(o(0))

    // v1: merge-on-read delete of ids % 7 == 0 — remove + re-add of the
    // SAME object carrying the vector
    val dv1 = TxnLog.planDvDelete(spark, o(0), col("id") % 7 === 0)
    TxnLog.commit(spark, logDir, 1L, adds = Seq(o(0)),
      removes = Seq(o(0)), dvs = Map(o(0) -> dv1))
    assert(objFingerprint(o(0)) == before, "delete must not touch bytes")
    assert(TxnLog.readSnapshot(spark, logDir, 0L).count() == 100L)
    val afterDelete = TxnLog.readSnapshot(spark, logDir, 1L)
    assert(afterDelete.count() == 100L - 15L) // ids 0,7,...,98
    assert(afterDelete.where(col("id") % 7 === 0).count() == 0L)

    // liveness-net CDC reports nothing; the DV half reports the swap
    val log1 = TxnLog.readLog(spark, logDir)
    assert(TxnLog.changedBetween(log1, 0L, 1L) ==
      (Seq.empty[String], Seq.empty[String]))
    assert(TxnLog.dvChangedBetween(log1, 0L, 1L) ==
      Seq((o(0), None, Some(dv1))))

    // v2: a second delete UNIONS into the vector (ids % 11 == 0)
    val dv2 = TxnLog.planDvDelete(spark, o(0), col("id") % 11 === 0,
      existing = Some(dv1))
    TxnLog.commit(spark, logDir, 2L, adds = Seq(o(0)),
      removes = Seq(o(0)), dvs = Map(o(0) -> dv2))
    assert(objFingerprint(o(0)) == before)
    val afterSecond = TxnLog.readSnapshot(spark, logDir, 2L)
    assert(afterSecond.count() ==
      spark.range(0, 100).where(col("id") % 7 =!= 0 &&
        col("id") % 11 =!= 0).count())

    // v3: compaction folds the vector into a rewritten object — content
    // no-op, DV retired
    val compacted = s"$root/o0_compact"
    TxnLog.readSnapshot(spark, logDir, 2L)
      .write.mode("overwrite").parquet(compacted)
    TxnLog.commit(spark, logDir, 3L, adds = Seq(compacted),
      removes = Seq(o(0)))
    val headLive = TxnLog.liveActionsAt(spark, logDir, 3L)
    assert(headLive.map(_.path) == Seq(compacted) &&
      headLive.forall(_.dv.isEmpty))
    assert(TxnLog.readSnapshot(spark, logDir, 3L)
      .except(afterSecond).isEmpty &&
      afterSecond.except(TxnLog.readSnapshot(spark, logDir, 3L)).isEmpty)

    // v4: RESTORE to v0 — one commit, rows fully undeleted (the DV swap
    // runs backward: the target's absent vector is re-stamped)
    val restored = TxnLog.restore(spark, logDir, 0L)
    assert(restored == 4L)
    assert(TxnLog.readSnapshot(spark, logDir, 4L).count() == 100L)
    assert(TxnLog.liveActionsAt(spark, logDir, 4L).forall(_.dv.isEmpty))
  }

  test("DV round-trips through commit files AND checkpoints; a clone " +
    "carries it") {
    val (root, logDir, o) = freshTable("dvckpt")
    TxnLog.commit(spark, logDir, 0L, adds = Seq(o(0)), checkpointEvery = 2)
    TxnLog.commit(spark, logDir, 1L, adds = Seq(o(1)), checkpointEvery = 2)
    val dv = TxnLog.planDvDelete(spark, o(0), col("id") < 10)
    // v2 lands ON the checkpoint boundary: the checkpoint must carry it
    TxnLog.commit(spark, logDir, 2L, adds = Seq(o(0)),
      removes = Seq(o(0)), dvs = Map(o(0) -> dv), checkpointEvery = 2)
    assert(TxnLog.lastCheckpointAtOrBefore(spark, logDir, 2L)
      .contains(2L))
    // head resolves THROUGH the checkpoint and still serves the vector
    assert(TxnLog.liveActionsAt(spark, logDir, 2L)
      .find(_.path == o(0)).flatMap(_.dv).contains(dv))
    assert(TxnLog.readSnapshot(spark, logDir, 2L).count() == 190L)
    // a shallow clone of the DV'd snapshot serves the same rows
    val cloneDir = s"$root/_clone_log"
    TxnLog.shallowClone(spark, logDir, 2L, cloneDir)
    assert(TxnLog.readSnapshot(spark, cloneDir, 0L).count() == 190L)
  }

  // ----- column mapping --------------------------------------------------

  test("column mapping: RENAME is a metadata-only commit — files from " +
    "both generations read through one logical schema; DROP needs full " +
    "mapping; reorders and duplicate names are never evolutions") {
    import org.apache.spark.sql.types._
    def mapped(name: String, phys: String, dt: DataType): StructField =
      StructField(name, dt, nullable = true,
        new MetadataBuilder().putString("graft.phys", phys).build())
    val root = TestSpark.scratchDir("graft-txnlog-colmap").toString
    val logDir = s"$root/_log"
    val s1 = StructType(Seq(StructField("id", LongType),
      StructField("val", DoubleType)))
    // gen-1 files carry the original (physical) names
    val g1 = s"$root/g1"
    spark.range(0, 100).toDF("id")
      .withColumn("val", col("id").cast("double") * 2)
      .write.mode("overwrite").parquet(g1)
    TxnLog.commit(spark, logDir, 0L, adds = Seq(g1), meta = Some(s1.json),
      addsSchema = Some(s1.json))

    // RENAME val -> amount: the new field keeps phys="val"; no rewrite
    val s2 = StructType(Seq(StructField("id", LongType),
      mapped("amount", "val", DoubleType)))
    assert(TxnLog.schemaEvolutionOk(s1.json, s2.json))
    // gen-2 files still write the PHYSICAL name
    val g2 = s"$root/g2"
    spark.range(100, 200).toDF("id")
      .withColumn("val", col("id").cast("double") * 2)
      .write.mode("overwrite").parquet(g2)
    TxnLog.commit(spark, logDir, 1L, adds = Seq(g2), meta = Some(s2.json),
      addsSchema = Some(s1.json)) // file schema = physical names
    val snap = TxnLog.readSnapshot(spark, logDir, 1L)
    assert(snap.schema.fieldNames.toSeq == Seq("id", "amount"))
    assert(snap.count() == 200L &&
      snap.agg(sum(col("amount"))).head().getDouble(0) ==
        (0 until 200).map(_ * 2.0).sum)
    // time travel serves the pre-rename logical name
    assert(TxnLog.readSnapshot(spark, logDir, 0L)
      .schema.fieldNames.toSeq == Seq("id", "val"))

    // DROP id: legal only once EVERY column is explicitly mapped
    val dropNotMapped = StructType(Seq(mapped("amount", "val", DoubleType)))
    assert(TxnLog.schemaEvolutionOk(s2.json, dropNotMapped.json))
    val s2full = StructType(Seq(mapped("id", "id", LongType),
      mapped("amount", "val", DoubleType)))
    assert(TxnLog.schemaEvolutionOk(s2.json, s2full.json))
    // ... but dropping from a schema whose survivor is NOT mapped fails
    val dropUnmapped = StructType(Seq(StructField("amount", DoubleType)))
    assert(!TxnLog.schemaEvolutionOk(s2.json, dropUnmapped.json))
    TxnLog.commit(spark, logDir, 2L, meta = Some(dropNotMapped.json))
    val dropped = TxnLog.readSnapshot(spark, logDir, 2L)
    assert(dropped.schema.fieldNames.toSeq == Seq("amount") &&
      dropped.count() == 200L)

    // REORDERING is rejected (ADVICE r17) — same columns, swapped
    val reordered = StructType(Seq(StructField("val", DoubleType),
      StructField("id", LongType)))
    assert(!TxnLog.schemaEvolutionOk(s1.json, reordered.json))
    // duplicate LOGICAL names rejected (newByName used to collapse them)
    val dupLogical = StructType(Seq(StructField("id", LongType),
      StructField("val", DoubleType), StructField("val", DoubleType)))
    assert(!TxnLog.schemaEvolutionOk(s1.json, dupLogical.json))
    // duplicate PHYSICAL names rejected
    val dupPhys = StructType(Seq(StructField("id", LongType),
      mapped("a", "val", DoubleType), mapped("b", "val", DoubleType)))
    assert(!TxnLog.schemaEvolutionOk(s1.json, dupPhys.json))
  }

  // ----- resolution fault tolerance --------------------------------------

  test("a torn checkpoint falls back to the next older checkpoint, " +
    "then to full replay — a checkpoint is a shortcut, never state") {
    val (root, logDir, o) = freshTable("tornckpt")
    TxnLog.commit(spark, logDir, 0L, adds = Seq(o(0)), checkpointEvery = 2)
    TxnLog.commit(spark, logDir, 1L, adds = Seq(o(1)), checkpointEvery = 2)
    TxnLog.commit(spark, logDir, 2L, adds = Seq(o(2)), checkpointEvery = 2)
    TxnLog.commit(spark, logDir, 3L, removes = Seq(o(1)),
      checkpointEvery = 2)
    TxnLog.commit(spark, logDir, 4L, adds = Seq(s"$root/late"),
      checkpointEvery = 2) // checkpoints now at v2 and v4
    val expected = TxnLog.liveFilesAt(spark, logDir, 4L)
    def corrupt(v: Long): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(
        s"$logDir/" + f"$v%020d" + ".checkpoint"),
        "add\ttorn-no-termin".getBytes("UTF-8"))
    // torn newest checkpoint (the pointer's target): falls back to v2
    corrupt(4L)
    assert(TxnLog.liveFilesAt(spark, logDir, 4L) == expected)
    // torn BOTH: falls back to the full commit replay
    corrupt(2L)
    assert(TxnLog.liveFilesAt(spark, logDir, 4L) == expected)
  }

  test("a pruned log prefix with no readable checkpoint fails LOUDLY " +
    "instead of resolving an incomplete snapshot") {
    val (_, logDir, o) = freshTable("prunedhead")
    TxnLog.commit(spark, logDir, 0L, adds = Seq(o(0)))
    TxnLog.commit(spark, logDir, 1L, adds = Seq(o(1)))
    TxnLog.commit(spark, logDir, 2L, adds = Seq(o(2)))
    val f = new org.apache.hadoop.fs.Path(logDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the forbidden ordering: commits pruned under a checkpoint
    // that was then GC'd — the head commit file vanishes
    f.delete(new org.apache.hadoop.fs.Path(
      logDir, f"${0L}%020d" + ".commit"), false)
    val e1 = intercept[IllegalArgumentException] {
      TxnLog.liveFilesAt(spark, logDir, 2L)
    }
    assert(e1.getMessage.contains("not v0"))
    // a mid-log GAP is equally loud
    val (_, logDir2, p) = freshTable("prunedgap")
    TxnLog.commit(spark, logDir2, 0L, adds = Seq(p(0)))
    TxnLog.commit(spark, logDir2, 1L, adds = Seq(p(1)))
    TxnLog.commit(spark, logDir2, 2L, adds = Seq(p(2)))
    val f2 = new org.apache.hadoop.fs.Path(logDir2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f2.delete(new org.apache.hadoop.fs.Path(
      logDir2, f"${1L}%020d" + ".commit"), false)
    val e2 = intercept[IllegalArgumentException] {
      TxnLog.liveFilesAt(spark, logDir2, 2L)
    }
    assert(e2.getMessage.contains("gap"))
  }
}
