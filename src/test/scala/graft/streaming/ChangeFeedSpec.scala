package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/**
 * ChangeFeed.materialize: change stream → materialized table, applied
 * through real micro-batches (one feed file per batch, mtime-ordered).
 * The properties under test are the ones the operator's contract
 * promises: latest-version-wins, tombstones that cannot be resurrected
 * by late lower-version changes, and at-least-once replay idempotence —
 * all regardless of which batch a change arrives in.
 */
class ChangeFeedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Append `rows` as one parquet file with a pinned mtime so the file
   *  source processes feed files in exactly this call order. */
  private def appendFile(dir: String, mtime: Long,
                         rows: Seq[(Long, String, String, Long)]): Unit = {
    val before = Option(new java.io.File(dir).listFiles()).toSeq.flatten.toSet
    rows.toDF("k", "v", "op", "version")
      .coalesce(1).write.mode("append").parquet(dir)
    new java.io.File(dir).listFiles()
      .filter(f => !before(f) && f.getName.endsWith(".parquet"))
      .foreach(_.setLastModified(mtime))
  }

  test("version-gated merge: latest wins, tombstones hold, replay is a no-op") {
    val tmp = TestSpark.tempDir("graft_cf")
    val t0 = System.currentTimeMillis() - 3600000L
    // batch 1: initial inserts
    appendFile(s"$tmp/feed", t0, Seq(
      (1L, "a", "I", 1L), (2L, "x", "I", 1L)))
    // batch 2: k1 updated; k2 DELETED at v3 (before its v2 change arrives)
    appendFile(s"$tmp/feed", t0 + 10000, Seq(
      (1L, "b", "U", 2L), (2L, "gone", "D", 3L)))
    // batch 3: k2's LATE v2 update (below the tombstone's version — must
    // NOT resurrect), k3 inserted, k1's v2 REPLAYED (at-least-once)
    appendFile(s"$tmp/feed", t0 + 20000, Seq(
      (2L, "late", "U", 2L), (3L, "c", "I", 1L), (1L, "b", "U", 2L)))

    val schema = spark.read.parquet(s"$tmp/feed").schema
    val snap = ChangeFeed.materialize(spark, s"$tmp/feed", schema,
      keys = Seq("k"), opCol = "op", versionCol = "version",
      workDir = s"$tmp/work", statePartitions = Some(2),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    assert(snap.columns.toSeq == Seq("k", "v"))
    val rows = snap.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "b", 3L -> "c")) // k2 deleted, k1 at v2
  }

  test("single-batch feed and out-of-order versions within one batch") {
    val tmp = TestSpark.tempDir("graft_cf1")
    // one file = one batch: the within-batch latest-per-key window must
    // pick v3 for k1 no matter the row order in the file
    appendFile(s"$tmp/feed", System.currentTimeMillis(), Seq(
      (1L, "v3", "U", 3L), (1L, "v1", "I", 1L), (1L, "v2", "U", 2L),
      (2L, "only", "I", 1L), (2L, "dead", "D", 2L)))
    val schema = spark.read.parquet(s"$tmp/feed").schema
    val snap = ChangeFeed.materialize(spark, s"$tmp/feed", schema,
      keys = Seq("k"), opCol = "op", versionCol = "version",
      workDir = s"$tmp/work")
    val rows = snap.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "v3"))
  }

  test("re-entry on the same workDir applies only the delta onto the recovered snapshot") {
    val tmp = TestSpark.tempDir("graft_cf_re")
    val t0 = System.currentTimeMillis() - 3600000L
    appendFile(s"$tmp/feed", t0, Seq((1L, "a", "I", 1L), (2L, "x", "I", 1L)))
    val schema = spark.read.parquet(s"$tmp/feed").schema
    def run() = ChangeFeed.materialize(spark, s"$tmp/feed", schema,
      keys = Seq("k"), opCol = "op", versionCol = "version",
      workDir = s"$tmp/work")
    assert(run().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      == Map(1L -> "a", 2L -> "x"))
    // new feed files land; the SAME workDir call must merge ONLY the
    // delta into the recovered snapshot (checkpoint skips old files),
    // not restart from nothing
    appendFile(s"$tmp/feed", t0 + 10000,
      Seq((1L, "b", "U", 2L), (3L, "c", "I", 1L)))
    assert(run().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      == Map(1L -> "b", 2L -> "x", 3L -> "c"))
    // a third call with NO new files returns the recovered snapshot
    assert(run().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      == Map(1L -> "b", 2L -> "x", 3L -> "c"))
  }

  test("randomized feeds converge to the max-version fold model under any chunking") {
    // the operator's whole contract in one property: for ANY set of
    // changes, ANY shuffle order, ANY file chunking, the materialized
    // table equals the per-key max-version record (absent if that
    // record is a DELETE). Seeded trials keep the streaming-query cost
    // bounded while still exercising in-batch dups, cross-batch
    // ordering, and tombstone interleavings.
    val rnd = new scala.util.Random(20260813L)
    (1 to 5).foreach { trial =>
      val changes = (1L to 8L).flatMap { k =>
        val n = 1 + rnd.nextInt(4)
        val versions = rnd.shuffle((1L to 5L).toList).take(n)
        versions.map { v =>
          val op = if (rnd.nextInt(4) == 0) "D" else if (v == 1L) "I" else "U"
          (k, s"k${k}v$v", op, v)
        }
      }
      val expected = changes.groupBy(_._1).flatMap { case (k, cs) =>
        val last = cs.maxBy(_._4)
        if (last._3 == "D") None else Some(k -> last._2)
      }
      val tmp = TestSpark.tempDir(s"graft_cf_p$trial")
      val shuffled = rnd.shuffle(changes.toList)
      val nFiles = 1 + rnd.nextInt(3)
      val t0 = System.currentTimeMillis() - 3600000L
      shuffled.grouped(math.max(1, shuffled.size / nFiles)).zipWithIndex
        .foreach { case (chunk, i) =>
          appendFile(s"$tmp/feed", t0 + i * 10000L, chunk) }
      val schema = spark.read.parquet(s"$tmp/feed").schema
      val snap = ChangeFeed.materialize(spark, s"$tmp/feed", schema,
        keys = Seq("k"), opCol = "op", versionCol = "version",
        workDir = s"$tmp/work", statePartitions = Some(2),
        sourceOptions = Map("maxFilesPerTrigger" -> "1"))
      val got = snap.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == expected, s"trial $trial: $shuffled")
    }
  }

  test("torn FIRST write (unmarked gen, no history) recovers via replay instead of wedging") {
    val tmp = TestSpark.tempDir("graft_cf_tear")
    appendFile(s"$tmp/feed", System.currentTimeMillis(),
      Seq((1L, "a", "I", 1L)))
    val schema = spark.read.parquet(s"$tmp/feed").schema
    // a crash during the very first snapshot write leaves a torn gen
    // dir with no commit marker and NO committed history: recovery
    // must delete the torn dir and let the checkpoint replay — not
    // refuse forever (the round-7 advisor failure mode)
    java.nio.file.Files.createDirectories(
      java.nio.file.Path.of(s"$tmp/work/buckets/b0/gen_1"))
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$tmp/work/buckets/b0/gen_1/part-torn.parquet"),
      "not parquet")
    val snap = ChangeFeed.materialize(spark, s"$tmp/feed", schema,
      keys = Seq("k"), opCol = "op", versionCol = "version",
      workDir = s"$tmp/work")
    assert(snap.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      == Map(1L -> "a"))
  }

  test("torn empty _cf_meta on a stateless workDir is recovered, not a permanent wedge") {
    val tmp = TestSpark.tempDir("graft_cf_meta")
    // simulate a crash between fs.create(_cf_meta) and the write: an
    // empty meta file, nothing else in the workDir
    new java.io.File(s"$tmp/work").mkdirs()
    new java.io.File(s"$tmp/work/_cf_meta").createNewFile()
    appendFile(s"$tmp/feed", System.currentTimeMillis(), Seq(
      (1L, "a", "I", 1L), (2L, "b", "I", 1L)))
    val schema = spark.read.parquet(s"$tmp/feed").schema
    def run(nb: Int) = ChangeFeed.materialize(spark, s"$tmp/feed", schema,
      keys = Seq("k"), opCol = "op", versionCol = "version",
      workDir = s"$tmp/work", numBuckets = nb)
    val snap = run(4)
    assert(snap.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      == Map(1L -> "a", 2L -> "b"))
    // the rewrite re-pinned numBuckets: the meta is whole again and a
    // re-entry with a DIFFERENT default must reuse the pinned value
    val meta = scala.io.Source.fromFile(s"$tmp/work/_cf_meta").mkString.trim
    assert(meta == "numBuckets=4")
    appendFile(s"$tmp/feed", System.currentTimeMillis() + 10000, Seq(
      (3L, "c", "I", 1L)))
    val snap2 = run(16)
    assert(snap2.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(scala.io.Source.fromFile(s"$tmp/work/_cf_meta").mkString.trim
      == "numBuckets=4")
  }

  test("torn _cf_meta with materialized state refuses to guess numBuckets") {
    val tmp = TestSpark.tempDir("graft_cf_meta2")
    appendFile(s"$tmp/feed", System.currentTimeMillis(), Seq((1L, "a", "I", 1L)))
    val schema = spark.read.parquet(s"$tmp/feed").schema
    def run() = ChangeFeed.materialize(spark, s"$tmp/feed", schema,
      keys = Seq("k"), opCol = "op", versionCol = "version",
      workDir = s"$tmp/work", numBuckets = 4)
    run().collect()
    // corrupt the meta AFTER buckets exist: re-pinning would scatter
    // existing buckets' keys, so this must fail loudly. (Drop the
    // Hadoop-side checksum too — the corruption under test is a torn
    // WRITE, not bit rot, so the read must surface the content.)
    new java.io.File(s"$tmp/work/._cf_meta.crc").delete()
    val metaFile = new java.io.File(s"$tmp/work/_cf_meta")
    val w = new java.io.FileWriter(metaFile); w.write("numBuckets=ga"); w.close()
    val ex = intercept[IllegalStateException](run())
    assert(ex.getMessage.contains("unreadable _cf_meta"))
  }

  test("deleted snapshot under a live checkpoint fails loudly instead of dropping history") {
    val tmp = TestSpark.tempDir("graft_cf_gone")
    appendFile(s"$tmp/feed", System.currentTimeMillis() - 3600000L,
      Seq((1L, "a", "I", 1L)))
    val schema = spark.read.parquet(s"$tmp/feed").schema
    def run() = ChangeFeed.materialize(spark, s"$tmp/feed", schema,
      keys = Seq("k"), opCol = "op", versionCol = "version",
      workDir = s"$tmp/work")
    assert(run().count() == 1)
    // someone deletes the buckets but keeps the checkpoint (which
    // skips the already-applied feed files): re-entry must refuse —
    // proceeding would silently merge future deltas into nothing
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$tmp/work/buckets")).deleteRecursively()
    val e = intercept[IllegalArgumentException] { run() }
    assert(e.getMessage.contains("refusing to discard history"))
  }

  test("foreign names in workDir and bucket dirs are skipped, not crashed on") {
    val tmp = TestSpark.tempDir("graft_cf_foreign")
    appendFile(s"$tmp/feed", System.currentTimeMillis(),
      Seq((1L, "a", "I", 1L)))
    val schema = spark.read.parquet(s"$tmp/feed").schema
    // manual backups with non-integer suffixes must not trip recovery
    java.nio.file.Files.createDirectories(
      java.nio.file.Path.of(s"$tmp/work/buckets/b0/gen_backup"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Path.of(s"$tmp/work/snap_backup"))
    val snap = ChangeFeed.materialize(spark, s"$tmp/feed", schema,
      keys = Seq("k"), opCol = "op", versionCol = "version",
      workDir = s"$tmp/work")
    assert(snap.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      == Map(1L -> "a"))
    // the foreign dirs are still there, untouched
    assert(java.nio.file.Files.exists(
      java.nio.file.Path.of(s"$tmp/work/buckets/b0/gen_backup")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Path.of(s"$tmp/work/snap_backup")))
  }

  /** (file name → (length, mtime)) for every data file in every bucket
   *  generation under workDir — identity proof that a bucket was NOT
   *  rewritten (a rewrite changes mtimes even with identical bytes). */
  private def bucketFileState(work: String): Map[String, Map[String, (Long, Long)]] = {
    val root = new java.io.File(s"$work/buckets")
    Option(root.listFiles()).toSeq.flatten.filter(_.getName.startsWith("b")).map { b =>
      val files = Option(b.listFiles()).toSeq.flatten.flatMap { gen =>
        Option(gen.listFiles()).toSeq.flatten.map { f =>
          s"${gen.getName}/${f.getName}" -> (f.length(), f.lastModified())
        }
      }.toMap
      b.getName -> files
    }.toMap
  }

  test("a single-key delta touches exactly one bucket; untouched buckets are carried forward byte-identical") {
    val tmp = TestSpark.tempDir("graft_cf_bucket")
    val t0 = System.currentTimeMillis() - 3600000L
    // enough keys that every bucket is populated
    appendFile(s"$tmp/feed", t0, (1L to 64L).map(k => (k, s"v$k", "I", 1L)))
    val schema = spark.read.parquet(s"$tmp/feed").schema
    def run() = ChangeFeed.materialize(spark, s"$tmp/feed", schema,
      keys = Seq("k"), opCol = "op", versionCol = "version",
      workDir = s"$tmp/work", statePartitions = Some(2), numBuckets = 8)
    assert(run().count() == 64)
    val before = bucketFileState(s"$tmp/work")
    assert(before.size == 8, s"expected all 8 buckets populated, got ${before.keys}")
    // delta touching ONE key → exactly one bucket may advance
    appendFile(s"$tmp/feed", t0 + 10000, Seq((1L, "v1b", "U", 2L)))
    val snap2 = run()
    val got = snap2.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "v1b" && got.size == 64)
    val after = bucketFileState(s"$tmp/work")
    val changed = before.keys.filter(b => before(b) != after(b))
    assert(changed.size == 1,
      s"single-key delta rewrote ${changed.size} buckets: $changed")
    // untouched buckets: same generation dirs, same files, same
    // lengths, same mtimes — not rewritten, not even touched
    (before.keys.toSet - changed.head).foreach { b =>
      assert(before(b) == after(b), s"untouched bucket $b was modified")
    }
  }

  test("numBuckets is pinned by the first call on a workDir") {
    val tmp = TestSpark.tempDir("graft_cf_pin")
    val t0 = System.currentTimeMillis() - 3600000L
    appendFile(s"$tmp/feed", t0, (1L to 16L).map(k => (k, s"v$k", "I", 1L)))
    val schema = spark.read.parquet(s"$tmp/feed").schema
    def run(nb: Int) = ChangeFeed.materialize(spark, s"$tmp/feed", schema,
      keys = Seq("k"), opCol = "op", versionCol = "version",
      workDir = s"$tmp/work", numBuckets = nb)
    assert(run(4).count() == 16)
    // re-entry with a DIFFERENT numBuckets must reuse the pinned 4 —
    // a changed bucket function would scatter old buckets' keys
    appendFile(s"$tmp/feed", t0 + 10000, Seq((1L, "v1b", "U", 2L)))
    val got = run(32).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "v1b" && got.size == 16)
    val buckets = Option(new java.io.File(s"$tmp/work/buckets").listFiles())
      .toSeq.flatten.map(_.getName).filter(_.startsWith("b"))
    assert(buckets.forall(_.stripPrefix("b").toInt < 4),
      s"bucket ids exceed the pinned count: $buckets")
  }

  test("empty feed directory materializes an empty payload-schema frame") {
    val tmp = TestSpark.tempDir("graft_cf0")
    // establish schema via an empty write (file source needs the dir)
    Seq.empty[(Long, String, String, Long)].toDF("k", "v", "op", "version")
      .write.parquet(s"$tmp/feed")
    val schema = spark.read.parquet(s"$tmp/feed").schema
    val snap = ChangeFeed.materialize(spark, s"$tmp/feed", schema,
      keys = Seq("k"), opCol = "op", versionCol = "version",
      workDir = s"$tmp/work")
    assert(snap.columns.toSeq == Seq("k", "v"))
    assert(snap.count() == 0)
  }
}
