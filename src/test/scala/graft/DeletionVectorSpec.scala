package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{TxSql, TxTable}

/** MERGE-ON-READ deletion vectors (predicate form): point DML commits
  * a deletion predicate instead of rewriting candidate files — the
  * r16 verdict's #1 missing piece ("a point delete in a 1 GB file
  * rewrites the gigabyte"). Contract pinned here:
  *
  *   - DELETE with DVs rewrites ZERO data files (manifest: same file
  *     list + a del entry); every reader — API, SQL scan, CDF —
  *     serves only visible rows;
  *   - UPDATE with DVs hides the pre-images in place and writes ONE
  *     fresh post-image file set;
  *   - compact / copy-on-write rewrites FOLD the predicates away;
  *   - time travel below the delete still serves the full rows;
  *   - renames rekey predicate columns; drops refuse while referenced;
  *   - incremental consumers fail fast (non-CDF) or stay exact (CDF).
  */
class DeletionVectorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_dv_").toString

  /** Multi-file indexed table: k 1..40 range-clustered (disjoint
    * per-file k-ranges, so a point predicate prunes to one file). */
  private def buildTable(dir: String): Unit = {
    val df = (1 to 40).map(i => (i.toLong, s"t${i % 4}")).toDF("k", "v")
    TxTable.overwriteIndexedMulti(df, dir, statCols = Seq("k"))
    TxTable.enableDeletionVectors(spark, dir)
  }

  test("point DELETE: zero data-file rewrites, exact visibility") {
    val dir = freshRoot() + "/t"
    buildTable(dir)
    val before = TxTable.snapshot(spark, dir).get
    assert(before.files.size > 1, "need a multi-file table")
    val v = TxTable.deleteWhere(spark, dir, Seq(("k", 7.0, 7.0)))
    val after = TxTable.snapshot(spark, dir).get
    assert(v === 2L)
    // THE claim: same file list, byte-identical — only a del entry
    assert(after.files === before.files,
      "DV delete must not rewrite or add any data file")
    assert(after.dels.nonEmpty && after.dels.forall(_.ranges ===
      Seq(("k", 7.0, 7.0))))
    // and the predicate attached only to the pruned candidates
    assert(after.dels.size < before.files.size,
      "del entries must target only manifest-pruned candidate files")
    // visibility: every read path hides k=7
    assert(TxTable.read(spark, dir).count() === 39L)
    assert(TxTable.read(spark, dir).filter($"k" === 7L).count() === 0L)
    assert(TxTable.readWhere(spark, dir, Seq(("k", 1.0, 10.0)))
      .as[(Long, String)].collect().map(_._1).sorted.toSeq ===
      Seq(1L, 2L, 3L, 4L, 5L, 6L, 8L, 9L, 10L))
    // time travel below the delete still serves the row
    assert(TxTable.read(spark, dir, asOf = Some(1L))
      .filter($"k" === 7L).count() === 1L)
    // index metadata carried verbatim (supersets stay correct)
    assert(after.index.stats === before.index.stats)
    assert(after.index.values === before.index.values)
  }

  test("predicates stack; equality form; null predicate keeps rows") {
    val dir = freshRoot() + "/t"
    buildTable(dir)
    TxTable.deleteWhere(spark, dir, Seq(("k", 7.0, 7.0)))
    TxTable.deleteWhere(spark, dir, valueEq = Seq(("v", "t2")), ranges = Nil)
    val snap = TxTable.snapshot(spark, dir).get
    assert(snap.version === 3L)
    val got = TxTable.read(spark, dir).as[(Long, String)].collect()
    assert(!got.exists(_._1 == 7L) && !got.exists(_._2 == "t2"))
    assert(got.length === 29) // 40 - k=7 (t3) - the 10 t2 rows
    // a second delete of the same rows is idempotent
    TxTable.deleteWhere(spark, dir, Seq(("k", 7.0, 7.0)))
    assert(TxTable.read(spark, dir).count() === got.length.toLong)
  }

  test("UPDATE with DVs: pre-images hidden in place, one fresh file set") {
    val dir = freshRoot() + "/t"
    buildTable(dir)
    val before = TxTable.snapshot(spark, dir).get
    TxTable.updateWhere(spark, dir, Seq(("k", 5.0, 8.0)), Nil,
      Map("v" -> lit("UP")))
    val after = TxTable.snapshot(spark, dir).get
    // every pre-existing file carries over; only fresh files add
    assert(before.files.toSet.subsetOf(after.files.toSet),
      "DV update must not rewrite existing files")
    val fresh = after.files.filterNot(before.files.toSet)
    assert(fresh.nonEmpty && after.dels.nonEmpty)
    // updated rows visible ONCE with the new value — even though they
    // still match the del predicate region (fresh files carry no del)
    val got = TxTable.read(spark, dir).as[(Long, String)].collect()
      .sortBy(_._1)
    assert(got.length === 40)
    assert(got.filter(r => r._1 >= 5 && r._1 <= 8).forall(_._2 == "UP"))
    assert(got.filter(r => r._1 < 5 || r._1 > 8)
      .forall(_._2 != "UP"))
    // fresh files got index metadata over the tracked columns
    assert(fresh.forall(f => after.index.stats.contains(f)),
      "fresh post-image files must carry recomputed stats")
  }

  test("compact folds predicates into clean files; compactWhere folds only in scope") {
    val dir = freshRoot() + "/t"
    buildTable(dir)
    TxTable.deleteWhere(spark, dir, Seq(("k", 7.0, 7.0)))
    val expect = TxTable.read(spark, dir).as[(Long, String)]
      .collect().sorted.toSeq
    TxTable.compact(spark, dir, targetFiles = 2)
    val snap = TxTable.snapshot(spark, dir).get
    assert(snap.dels.isEmpty, "compact must fold deletion predicates")
    assert(TxTable.read(spark, dir).as[(Long, String)]
      .collect().sorted.toSeq === expect)
    // partition-scoped fold: dels on out-of-scope files survive
    val dir2 = freshRoot() + "/t2"
    buildTable(dir2)
    TxTable.deleteWhere(spark, dir2, valueEq = Seq(("v", "t1")),
      ranges = Nil)
    val expect2 = TxTable.read(spark, dir2).as[(Long, String)]
      .collect().sorted.toSeq
    val scope = TxTable.snapshot(spark, dir2).get.dels.head
    // compact only the partition holding v-values including t1's files
    TxTable.compactWhere(spark, dir2, "v", Seq("t1"), targetFiles = 1)
    val snap2 = TxTable.snapshot(spark, dir2).get
    assert(TxTable.read(spark, dir2).as[(Long, String)]
      .collect().sorted.toSeq === expect2,
      "scoped compaction changed content")
    assert(snap2.dels.size < TxTable.snapshot(spark, dir2, Some(2L))
      .get.dels.size || snap2.dels.isEmpty,
      s"scoped compaction must fold in-scope dels (was ${scope})")
  }

  test("copy-on-write DML on a DV'd table folds touched files' dels") {
    val dir = freshRoot() + "/t"
    buildTable(dir)
    TxTable.deleteWhere(spark, dir, Seq(("k", 7.0, 7.0)))
    // direct CoW delete (bypassing the DV dispatch): touched files
    // rewrite from VISIBLE rows — k=7 must not resurrect
    TxTable.deleteWhereCounted(spark, dir, Seq(("k", 9.0, 9.0)))
    val got = TxTable.read(spark, dir).as[(Long, String)].collect()
    assert(!got.exists(_._1 == 7L), "CoW rewrite resurrected a DV'd row")
    assert(!got.exists(_._1 == 9L))
    assert(got.length === 38)
  }

  test("SQL reads serve visible rows; vectorized clean files; widened del columns") {
    val root = freshRoot()
    val dir = s"$root/q"
    buildTable(dir)
    TxTable.deleteWhere(spark, dir, Seq(("k", 7.0, 7.0)))
    TxSql.installCatalog(spark, "txdv", root)
    // count (no columns) — the widening path: k is needed only by the
    // del predicate
    assert(spark.sql("SELECT count(*) AS n FROM txdv.q").as[Long]
      .head() === 39L)
    // projection WITHOUT the predicate column
    assert(spark.sql("SELECT v FROM txdv.q").count() === 39L)
    // filter + aggregate over both
    assert(spark.sql(
      "SELECT sum(k) AS s FROM txdv.q WHERE k BETWEEN 1 AND 10")
      .as[Long].head() === (1L to 10L).sum - 7L)
    // version time travel below the delete
    assert(spark.read.format("txtable").option("version", 1)
      .load(dir).count() === 40L)
  }

  test("SQL DELETE routes to a DV commit; SQL UPDATE never resurrects") {
    val root = freshRoot()
    val dir = s"$root/d"
    buildTable(dir)
    TxSql.installCatalog(spark, "txdvd", root)
    val before = TxTable.snapshot(spark, dir).get
    spark.sql("DELETE FROM txdvd.d WHERE k = 11")
    val after = TxTable.snapshot(spark, dir).get
    assert(after.files === before.files,
      "lossless SQL DELETE on a DV table must not rewrite files")
    assert(after.dels.nonEmpty)
    assert(spark.sql("SELECT count(*) AS n FROM txdvd.d").as[Long]
      .head() === 39L)
    // strict bound is NOT lossless → falls back to copy-on-write,
    // still correct
    spark.sql("DELETE FROM txdvd.d WHERE k > 38")
    assert(spark.sql("SELECT count(*) AS n FROM txdvd.d").as[Long]
      .head() === 37L)
    // SQL UPDATE through the row-level op scan: reads only VISIBLE
    // rows, folds the replaced files' dels
    spark.sql("UPDATE txdvd.d SET v = 'X' WHERE k <= 2")
    val got = spark.sql("SELECT k, v FROM txdvd.d").as[(Long, String)]
      .collect()
    assert(got.length === 37, "SQL UPDATE resurrected DV'd rows")
    assert(!got.exists(_._1 == 11L))
    assert(got.filter(_._1 <= 2L).forall(_._2 == "X"))
  }

  test("change feed stays exact across DV DML; non-CDF consumers fail fast") {
    val dir = freshRoot() + "/t"
    buildTable(dir)
    TxTable.enableChangeFeed(spark, dir)
    val v0 = TxTable.snapshot(spark, dir).get.version
    TxTable.deleteWhere(spark, dir, Seq(("k", 3.0, 4.0)))
    TxTable.updateWhere(spark, dir, Seq(("k", 10.0, 10.0)), Nil,
      Map("v" -> lit("U")))
    val feed = TxTable.changeFeed(spark, dir, from = v0)
    val deletes = feed.filter(col(TxTable.ChangeTypeCol) === "delete")
      .select($"k").as[Long].collect().sorted.toSeq
    assert(deletes === Seq(3L, 4L))
    val pre = feed.filter(col(TxTable.ChangeTypeCol) === "update_preimage")
      .select($"k", $"v").as[(Long, String)].collect().toSeq
    val post = feed.filter(col(TxTable.ChangeTypeCol) === "update_postimage")
      .select($"k", $"v").as[(Long, String)].collect().toSeq
    assert(pre.map(_._1) === Seq(10L) && post === Seq((10L, "U")))
    // a second delete of an ALREADY-hidden row records nothing new
    TxTable.deleteWhere(spark, dir, Seq(("k", 3.0, 3.0)))
    assert(TxTable.changeFeed(spark, dir,
      from = TxTable.snapshot(spark, dir).get.version - 1)
      .filter(col(TxTable.ChangeTypeCol) === "delete").count() === 0L)
    // non-CDF incremental consumption across the DV DML fails fast
    val e = intercept[IllegalArgumentException] {
      TxTable.changesSince(spark, dir, v0) }
    assert(e.getMessage.contains("deletion predicates"))
    // but bootstrap-from-zero serves the VISIBLE snapshot (40 minus
    // the two deleted keys; the update replaces, never removes)
    val (boot, _) = TxTable.changesSince(spark, dir, 0L)
    assert(boot.count() === 38L)
  }

  test("rename rekeys del predicates; drop refuses while referenced; restore carries") {
    val dir = freshRoot() + "/t"
    buildTable(dir)
    TxTable.deleteWhere(spark, dir, Seq(("k", 7.0, 7.0)))
    TxTable.renameColumn(spark, dir, "k", "kid")
    val snap = TxTable.snapshot(spark, dir).get
    assert(snap.dels.forall(_.ranges.forall(_._1 == "kid")),
      "rename must rekey deletion-predicate columns")
    assert(TxTable.read(spark, dir).filter($"kid" === 7L).count() === 0L)
    val e = intercept[Exception] { TxTable.dropColumn(spark, dir, "kid") }
    assert(e.getMessage.contains("deletion predicate"))
    // restore to the DV'd version re-references files AND predicates
    TxTable.compact(spark, dir, 1) // folds
    TxTable.restore(spark, dir, snap.version)
    assert(TxTable.snapshot(spark, dir).get.dels.nonEmpty)
    assert(TxTable.read(spark, dir).filter($"kid" === 7L).count() === 0L)
    assert(TxTable.read(spark, dir).count() === 39L)
  }

  test("IVM over a DV-DML'd source: recorded images fold exactly") {
    import graft.sources.IncrementalView
    val src = freshRoot() + "/src"
    val dst = freshRoot() + "/dst"
    TxTable.enableChangeFeed(spark, src)
    TxTable.overwriteIndexedMulti(
      (1 to 40).map(i => (i.toLong, s"g${i % 4}", i.toLong * 10))
        .toDF("k", "g", "cents"), src, statCols = Seq("k"))
    TxTable.enableDeletionVectors(spark, src)
    IncrementalView.maintain(spark, src, dst, "g", "cents")
    def view(): Map[String, (Long, Long)] =
      TxTable.read(spark, dst).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val v0 = view()
    assert(v0("g1") === (10L, (1 to 40).filter(_ % 4 == 1)
      .map(_ * 10L).sum))
    // DV DELETE + DV UPDATE land on the source; the maintainer folds
    // their RECORDED images (the same dialect as copy-on-write)
    TxTable.deleteWhere(spark, src, Seq(("k", 5.0, 8.0)))
    TxTable.updateWhere(spark, src, Seq(("k", 13.0, 13.0)), Nil,
      Map("cents" -> lit(999L)))
    IncrementalView.maintain(spark, src, dst, "g", "cents")
    val v1 = view()
    val expect = (1 to 40).filterNot(i => i >= 5 && i <= 8)
      .map(i => (s"g${i % 4}", if (i == 13) 999L else i * 10L))
      .groupBy(_._1).map { case (g, xs) =>
        g -> (xs.size.toLong, xs.map(_._2).sum) }
    assert(v1 === expect, s"IVM over DV DML diverged: $v1 vs $expect")
    // replayed maintain is a no-op (marker discipline intact)
    IncrementalView.maintain(spark, src, dst, "g", "cents")
    assert(view() === expect)
  }

  test("dynamic partition overwrite on a DV'd table: untouched days keep their dels, replaced days fold") {
    val dir = freshRoot() + "/t"
    import java.sql.Timestamp
    def rows(day: Int, n: Int) = (0 until n).map(i =>
      (day * 100 + i.toLong, Timestamp.valueOf(f"2024-03-0$day 0$i:00:00")))
    TxTable.declarePartitions(spark, dir, Seq("days(ts)"))
    TxTable.overwritePartitions(
      (rows(1, 4) ++ rows(2, 4)).toDF("k", "ts"), dir, "days(ts)")
    TxTable.enableDeletionVectors(spark, dir)
    // DV-delete one row in EACH day
    TxTable.deleteWhere(spark, dir, Seq(("k", 101.0, 101.0)))
    TxTable.deleteWhere(spark, dir, Seq(("k", 201.0, 201.0)))
    assert(TxTable.read(spark, dir).count() === 6L)
    // replace day 2 only: day 1's del must survive, day 2's folds
    TxTable.overwritePartitions(
      rows(2, 2).toDF("k", "ts"), dir, "days(ts)")
    val got = TxTable.read(spark, dir).select($"k").as[Long]
      .collect().sorted.toSeq
    assert(got === Seq(100L, 102L, 103L, 200L, 201L),
      s"day-1 del lost or day-2 del leaked: $got")
    val snap = TxTable.snapshot(spark, dir).get
    assert(snap.dels.nonEmpty &&
      snap.dels.forall(d => snap.files.contains(d.path)),
      "dels must reference only live files after the overwrite")
  }

  test("streaming CDF serves DV DML images exactly (recorded slices)") {
    val dir = freshRoot() + "/t"
    val ckpt = Files.createTempDirectory("graft_dv_cdfckpt_").toString
    TxTable.enableChangeFeed(spark, dir)
    buildTable(dir) // v1 (overwriteIndexedMulti) — dv marker set
    TxTable.deleteWhere(spark, dir, Seq(("k", 5.0, 6.0))) // v2: DV delete
    TxTable.updateWhere(spark, dir, Seq(("k", 9.0, 9.0)), Nil,
      Map("v" -> lit("U"))) // v3: DV update
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, String, Long)]()
    val q = spark.readStream.format("graft.sources.TxTableStreamSource")
      .option("path", dir).option("readChangeFeed", "true")
      .option("startingVersion", "1") // past the initial overwrite
      .option("maxVersionsPerBatch", "1").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        b.select($"k", col(TxTable.ChangeTypeCol),
            col(TxTable.CommitVersionCol))
          .as[(Long, String, Long)].collect().foreach(buf.add)
      }
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val got = buf.asScala.toSeq.sorted
    assert(got === Seq(
      (5L, "delete", 2L), (6L, "delete", 2L),
      (9L, "update_preimage", 3L), (9L, "update_postimage", 3L)).sorted,
      s"streaming CDF over DV DML diverged: $got")
  }

  test("appends after a DV delete carry the predicates; clone carries them") {
    val dir = freshRoot() + "/t"
    buildTable(dir)
    TxTable.deleteWhere(spark, dir, Seq(("k", 7.0, 7.0)))
    TxTable.append(Seq((100L, "new")).toDF("k", "v"), dir)
    // the append must not resurrect k=7; the new row is visible even
    // though... k=100 doesn't match; and a new row MATCHING the del
    // predicate in a FRESH file stays visible (per-file semantics)
    TxTable.append(Seq((7L, "again")).toDF("k", "v"), dir)
    val got = TxTable.read(spark, dir).filter($"k" === 7L)
      .as[(Long, String)].collect().toSeq
    assert(got === Seq((7L, "again")),
      s"per-file del semantics violated: $got")
    assert(TxTable.read(spark, dir).count() === 41L)
    // shallow clone: predicates follow the referenced files
    val dst = freshRoot() + "/clone"
    TxTable.cloneShallow(spark, dir, dst)
    assert(TxTable.read(spark, dst).count() === 41L)
    assert(TxTable.read(spark, dst).filter($"k" === 7L).count() === 1L)
  }

  test("DV DML validates predicate columns pre-commit; nested names refuse") {
    val dir = freshRoot() + "/t"
    buildTable(dir)
    // a typo'd column would be recorded blind and poison every later
    // read (CoW fails naturally at the predicate's evaluation; DV
    // must validate explicitly) — refused BEFORE the commit
    val e1 = intercept[IllegalArgumentException](
      TxTable.deleteWhere(spark, dir, Seq(("nope", 1.0, 2.0))))
    assert(e1.getMessage.contains("nonexistent"))
    val e2 = intercept[IllegalArgumentException](
      TxTable.deleteWhere(spark, dir, ranges = Nil,
        valueEq = Seq(("s.x", "1"))))
    assert(e2.getMessage.contains("nested"))
    val e3 = intercept[IllegalArgumentException](
      TxTable.updateWhere(spark, dir, Seq(("nope", 1.0, 2.0)), Nil,
        Map("v" -> lit("z"))))
    assert(e3.getMessage.contains("nonexistent"))
    // nothing recorded, nothing hidden
    val snap = TxTable.snapshot(spark, dir).get
    assert(snap.version === 1L && snap.dels.isEmpty)
    assert(TxTable.read(spark, dir).count() === 40L)
  }

  test("MERGE with DVs: zero pre-existing rewrites; content and CDF equal the CoW twin") {
    val dvDir = freshRoot() + "/dv"
    val cowDir = freshRoot() + "/cow"
    val base = (1 to 40).map(i => (i.toLong, s"t${i % 4}", i * 100L))
      .toDF("k", "v", "c")
    for (d <- Seq(dvDir, cowDir)) {
      TxTable.overwriteIndexedMulti(base, d, statCols = Seq("k"))
      TxTable.enableChangeFeed(spark, d)
    }
    TxTable.enableDeletionVectors(spark, dvDir)
    val batch = Seq((7L, "upd", 777L), (14L, "upd", 1414L),
      (100L, "new", 10000L)).toDF("k", "v", "c")
    val before = TxTable.snapshot(spark, dvDir).get
    TxTable.merge(spark, dvDir, batch, "k")
    TxTable.merge(spark, cowDir, batch, "k")
    val after = TxTable.snapshot(spark, dvDir).get
    // THE claim: every pre-existing file carries over byte-untouched;
    // the batch's keys land as IN-set entries on pruned candidates
    assert(before.files.toSet.subsetOf(after.files.toSet),
      "DV merge must not rewrite any pre-existing data file")
    assert(after.dels.nonEmpty && after.dels.forall(d =>
      d.ins.nonEmpty && d.ranges.isEmpty && d.eqs.isEmpty))
    assert(after.dels.size < before.files.size,
      "IN-set entries must attach only to key-pruned candidate files")
    // content equal to the copy-on-write twin
    def rows(d: String) = TxTable.read(spark, d)
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(rows(dvDir) === rows(cowDir))
    // CDF images identical — consumers cannot tell the strategies apart
    def feed(d: String) = TxTable.changeFeed(spark, d, 1)
      .select($"k", $"v", $"c", col(TxTable.ChangeTypeCol))
      .as[(Long, String, Long, String)].collect().sorted.toSeq
    assert(feed(dvDir) === feed(cowDir))
    // a second merge stacks: its entry hides merge 1's post-image in
    // the FRESH file too (fresh files are candidates like any other)
    val batch2 = Seq((7L, "upd2", 778L)).toDF("k", "v", "c")
    TxTable.merge(spark, dvDir, batch2, "k")
    TxTable.merge(spark, cowDir, batch2, "k")
    assert(TxTable.read(spark, dvDir).filter($"k" === 7L)
      .as[(Long, String, Long)].collect().toSeq ===
      Seq((7L, "upd2", 778L)))
    // compact folds the IN-set predicates into clean files
    TxTable.compact(spark, dvDir, 2)
    val folded = TxTable.snapshot(spark, dvDir).get
    assert(folded.dels.isEmpty, "compact must fold IN-set entries away")
    assert(rows(dvDir) === rows(cowDir))
  }

  test("applyCdc with DVs: hide-only deletes, zero pre-existing rewrites, CDF equals CoW twin") {
    val dvDir = freshRoot() + "/dv"
    val cowDir = freshRoot() + "/cow"
    val base = (1 to 30).map(i => (i.toLong, s"t${i % 3}", i * 10L))
      .toDF("k", "v", "c")
    for (d <- Seq(dvDir, cowDir)) {
      TxTable.overwriteIndexedMulti(base, d, statCols = Seq("k"))
      TxTable.enableChangeFeed(spark, d)
    }
    TxTable.enableDeletionVectors(spark, dvDir)
    // one delete, one update, one insert, one delete-of-absent
    val batch = Seq(
      (5L, "x", 0L, "d"), (7L, "upd", 777L, "u"),
      (100L, "new", 1000L, "i"), (999L, "x", 0L, "d"))
      .toDF("k", "v", "c", "op")
    val before = TxTable.snapshot(spark, dvDir).get
    TxTable.applyCdc(spark, dvDir, batch, "k", "op")
    TxTable.applyCdc(spark, cowDir, batch, "k", "op")
    val after = TxTable.snapshot(spark, dvDir).get
    assert(before.files.toSet.subsetOf(after.files.toSet),
      "DV applyCdc must not rewrite any pre-existing data file")
    assert(after.dels.nonEmpty && after.dels.forall(_.ins.nonEmpty))
    def rows(d: String) = TxTable.read(spark, d)
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(rows(dvDir) === rows(cowDir))
    assert(!rows(dvDir).exists(_._1 == 5L))
    assert(rows(dvDir).find(_._1 == 7L) === Some((7L, "upd", 777L)))
    def feed(d: String) = TxTable.changeFeed(spark, d, 1)
      .select($"k", $"v", $"c", col(TxTable.ChangeTypeCol))
      .as[(Long, String, Long, String)].collect().sorted.toSeq
    assert(feed(dvDir) === feed(cowDir),
      "CDC feed must not distinguish the strategies")
  }

  test("SQL reads after a many-key DV merge stay exact (InSet visibility)") {
    val root = freshRoot()
    val dir = s"$root/t"
    val base = (1 to 200).map(i => (i.toLong, i * 10L)).toDF("k", "c")
    TxTable.overwriteIndexedMulti(base, dir, statCols = Seq("k"))
    TxTable.enableDeletionVectors(spark, dir)
    // 50 matched keys — well past the In→InSet conversion threshold,
    // so the scan-side visibility predicate must hash-lookup, and
    // either way serve exactly the post-merge rows
    val batch = (1 to 200).filter(_ % 4 == 0)
      .map(i => (i.toLong, i * 1000L)).toDF("k", "c")
    TxTable.merge(spark, dir, batch, "k")
    TxSql.installCatalog(spark, "txdvm", root)
    assert(spark.sql("SELECT count(*) FROM txdvm.t").as[Long]
      .head() === 200L)
    assert(spark.sql("SELECT sum(c) FROM txdvm.t").as[Long].head() ===
      (1 to 200).map(i => if (i % 4 == 0) i * 1000L else i * 10L).sum)
    assert(spark.sql("SELECT c FROM txdvm.t WHERE k = 8").as[Long]
      .head() === 8000L)
    assert(spark.sql("SELECT c FROM txdvm.t WHERE k = 7").as[Long]
      .head() === 70L)
  }

  test("DV merge on a STRING key ignores recorded numeric stats (no false prune)") {
    // min/max stats record as cast("double") — for a string column
    // that is lexicographic-then-cast garbage: {"9","10"} records the
    // INVERTED interval (10.0, 9.0). A numeric-looking batch key "9"
    // consulted against that interval would falsely prune the file,
    // the IN-set entry would never attach, and the merge would
    // silently produce a duplicate key. String keys must skip the
    // stats prune and rely on value sets/blooms. (Non-numeric string
    // values are the OTHER arm — ANSI cast makes those fail loudly at
    // recording time, so only numeric-looking strings can corrupt.)
    val dir = freshRoot() + "/t"
    val base = Seq(("9", 900L), ("10", 1000L), ("8", 800L))
      .toDF("sk", "c").repartition(1)
    TxTable.overwriteIndexedMulti(base, dir, statCols = Seq("sk"))
    val snap0 = TxTable.snapshot(spark, dir).get
    assert(snap0.index.stats.values.exists(_.contains("sk")),
      "test setup: string stats must be recorded for the prune to arm")
    TxTable.enableDeletionVectors(spark, dir)
    val batch = Seq(("9", 999L), ("42", 4200L)).toDF("sk", "c")
    TxTable.merge(spark, dir, batch, "sk")
    val after = TxTable.snapshot(spark, dir).get
    assert(snap0.files.toSet.subsetOf(after.files.toSet),
      "string-key merge must still go merge-on-read")
    assert(after.dels.nonEmpty, "IN-set entry must attach")
    val rows = TxTable.read(spark, dir).as[(String, Long)]
      .collect().sortBy(_._1).toSeq
    assert(rows === Seq(("10", 1000L), ("42", 4200L), ("8", 800L),
      ("9", 999L)).sortBy(_._1),
      s"duplicate or lost keys after string-key DV merge: $rows")
  }

  test("mergeSync (NOT MATCHED BY SOURCE): scoped deletes land as DelEntries, content and CDF equal the CoW twin") {
    val dvDir = freshRoot() + "/dv"
    val cowDir = freshRoot() + "/cow"
    // two regions; k 1..40 in eu, 41..80 in us
    val base = (1 to 80).map(i =>
      (i.toLong, if (i <= 40) "eu" else "us", i * 100L))
      .toDF("k", "region", "cents")
    for (d <- Seq(dvDir, cowDir)) {
      TxTable.overwriteIndexedMulti(base, d, statCols = Seq("k"),
        valueCols = Seq("region"))
      TxTable.enableChangeFeed(spark, d)
    }
    TxTable.enableDeletionVectors(spark, dvDir)
    // today's eu feed: k 1..10 re-land (2 updated), k 100 is new —
    // every other eu row VANISHED from the feed and must delete;
    // us rows are out of scope and must survive untouched
    val feed = ((1 to 10).map(i =>
      (i.toLong, "eu", if (i <= 2) i * 1000L else i * 100L)) :+
      ((100L, "eu", 42L))).toDF("k", "region", "cents")
    val before = TxTable.snapshot(spark, dvDir).get
    TxTable.mergeSync(spark, dvDir, feed, "k",
      scopeEq = Seq(("region", "eu")))
    TxTable.mergeSync(spark, cowDir, feed, "k",
      scopeEq = Seq(("region", "eu")))
    val after = TxTable.snapshot(spark, dvDir).get
    assert(before.files.toSet.subsetOf(after.files.toSet),
      "mergeSync on a DV table must rewrite ZERO pre-existing files")
    // by-source deletes land as SCOPED IN-set entries (scope AND key)
    assert(after.dels.exists(d => d.eqs.nonEmpty && d.ins.nonEmpty),
      s"expected a scoped IN-set entry, got ${after.dels}")
    def rows(d: String) = TxTable.read(spark, d)
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(rows(dvDir) === rows(cowDir))
    // exact semantics: eu = exactly the feed; us untouched
    assert(rows(dvDir).filter(_._2 == "eu").map(_._1).sorted ===
      ((1L to 10L) :+ 100L))
    assert(rows(dvDir).count(_._2 == "us") === 40)
    // CDF images typed identically across strategies
    def feedOf(d: String) = TxTable.changeFeed(spark, d, 1)
      .select($"k", $"cents", col(TxTable.ChangeTypeCol))
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(feedOf(dvDir) === feedOf(cowDir),
      "CDF must not distinguish the strategies")
    val types = feedOf(dvDir).map(_._3).distinct.sorted
    assert(types === Seq("delete", "insert", "update_postimage",
      "update_preimage"), s"all four image types expected: $types")
    // compact folds the scoped entries away; content is stable
    TxTable.compact(spark, dvDir, 2)
    assert(TxTable.snapshot(spark, dvDir).get.dels.isEmpty)
    assert(rows(dvDir) === rows(cowDir))
  }

  test("mergeSync fallback: a NULL key inside scope goes copy-on-write and deletes it") {
    val dir = freshRoot() + "/t"
    val base = Seq((Some(1L), "eu", 100L), (None, "eu", 200L),
      (Some(3L), "us", 300L)).toDF("k", "region", "cents")
    TxTable.overwriteIndexedMulti(base, dir, statCols = Nil,
      valueCols = Seq("region"))
    TxTable.enableDeletionVectors(spark, dir)
    val before = TxTable.snapshot(spark, dir).get
    TxTable.mergeSync(spark, dir,
      Seq((1L, "eu", 111L)).toDF("k", "region", "cents"), "k",
      scopeEq = Seq(("region", "eu")))
    // the NULL-key eu row vanished from the feed: MERGE's ON never
    // matches NULL, so by-source DELETE takes it — only CoW can
    val got = TxTable.read(spark, dir)
      .select($"k", $"region", $"cents")
      .as[(Option[Long], String, Long)].collect().sortBy(_._3).toSeq
    assert(got === Seq((Some(1L), "eu", 111L), (Some(3L), "us", 300L)))
    assert(!before.files.toSet.subsetOf(
      TxTable.snapshot(spark, dir).get.files.toSet) ||
      TxTable.snapshot(spark, dir).get.dels.isEmpty,
      "NULL-key scope must have fallen back to copy-on-write")
  }

  test("DV merge fallbacks: double key and oversized batch go copy-on-write") {
    // double keys are not canonically lossless → CoW, correct content
    val dir = freshRoot() + "/t"
    TxTable.overwrite((1 to 20).map(i => (i.toDouble, s"v$i"))
      .toDF("k", "v"), dir)
    TxTable.enableDeletionVectors(spark, dir)
    TxTable.merge(spark, dir, Seq((7.0, "upd")).toDF("k", "v"), "k")
    val snap = TxTable.snapshot(spark, dir).get
    assert(snap.dels.isEmpty, "double key must not record an IN-set")
    assert(TxTable.read(spark, dir).filter($"k" === 7.0)
      .as[(Double, String)].head()._2 === "upd")
    assert(TxTable.read(spark, dir).count() === 20L)
    // a batch above DvMergeMaxKeys falls back (the rewrite amortizes
    // at that size; the predicate would bloat every later manifest)
    val dir2 = freshRoot() + "/t2"
    TxTable.overwrite((1 to 100).map(i => (i.toLong, "x"))
      .toDF("k", "v"), dir2)
    TxTable.enableDeletionVectors(spark, dir2)
    val big = spark.range(TxTable.DvMergeMaxKeys + 1)
      .select($"id".as("k"), lit("y").as("v"))
    TxTable.merge(spark, dir2, big, "k")
    val snap2 = TxTable.snapshot(spark, dir2).get
    assert(snap2.dels.isEmpty, "oversized batch must fall back to CoW")
    assert(TxTable.read(spark, dir2).count() ===
      (TxTable.DvMergeMaxKeys + 1).toLong)
  }

  test("SQL DELETE on a nested field never records a DelEntry") {
    val root = freshRoot()
    val dir = s"$root/t"
    val df = (1 to 10).map(i => (i.toLong, s"x$i", i.toLong * 10))
      .toDF("k", "a", "b")
      .select($"k", struct($"a", $"b").as("s"))
    TxTable.overwrite(df, dir)
    TxTable.enableDeletionVectors(spark, dir)
    TxSql.installCatalog(spark, "txdvn", root)
    spark.sql("DELETE FROM txdvn.t WHERE s.b = 30")
    val snap = TxTable.snapshot(spark, dir).get
    assert(snap.dels.isEmpty,
      "a nested predicate must route to copy-on-write, not a DV entry")
    assert(TxTable.read(spark, dir).count() === 9L)
    assert(spark.sql("SELECT count(*) FROM txdvn.t WHERE s.b = 30")
      .as[Long].head() === 0L)
  }
}
