package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{TxSql, TxTable}

/** Storage-partitioned joins over `bucket(n, col)` TxTables — the r16
  * verdict's #2 ask: "an equi-join of two same-bucketed TxTables
  * plans with ZERO Exchange". Pinned here:
  *
  *   - CREATE TABLE ... PARTITIONED BY (bucket(8, k)) writes ONE
  *     bucket per file with singleton manifest value sets;
  *   - the scan reports KeyGroupedPartitioning over the catalog's
  *     bucket function, and the join of two same-bucketed tables
  *     executes with NO ShuffleExchange on either side;
  *   - results equal the plain-join oracle;
  *   - layouts that break the invariant (mixed-bucket files) fall
  *     back to ordinary shuffled joins — never wrong answers.
  */
class SpjSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_spj_").toString

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    df.collect() // materialize so AQE settles on the final plan
    // walk THROUGH query stages: a materialized AQE plan wraps each
    // exchange in a QueryStageExec whose subtree is not in children,
    // so a plain collect() silently under-counts to zero
    def walk(p: SparkPlan): Int = {
      val self = p match { case _: ShuffleExchangeLike => 1; case _ => 0 }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      self + kids.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  private def withBucketing[A](f: => A): A = {
    val k = "spark.sql.sources.v2.bucketing.enabled"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "true")
    try f finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  test("bucket(8, k) writes one bucket per file with singleton value sets") {
    val root = freshRoot()
    TxSql.installCatalog(spark, "spjw", root)
    spark.sql("CREATE TABLE spjw.t (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(8, k))")
    (1 to 200).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .createOrReplaceTempView("spjw_src")
    spark.sql("INSERT INTO spjw.t SELECT k, v FROM spjw_src")
    val snap = TxTable.snapshot(spark, s"$root/t").get
    assert(snap.files.nonEmpty)
    val sets = snap.files.map(f =>
      snap.index.values.get(f).flatMap(_.get("bucket(8,k)")))
    assert(sets.forall(_.exists(_.size == 1)),
      s"every file must hold exactly one bucket: $sets")
    // all 8 buckets present, one file each on the first write
    assert(sets.flatMap(_.get).flatten.toSet.size === 8)
    assert(snap.files.size === 8)
    // reads round-trip
    assert(spark.sql("SELECT count(*) AS n FROM spjw.t").as[Long]
      .head() === 200L)
    // an APPEND adds per-bucket files; sets stay singleton
    spark.sql("INSERT INTO spjw.t VALUES (1000, 'x')")
    val snap2 = TxTable.snapshot(spark, s"$root/t").get
    assert(snap2.files.map(f =>
      snap2.index.values.get(f).flatMap(_.get("bucket(8,k)")))
      .forall(_.exists(_.size == 1)))
  }

  test("equi-join of two same-bucketed tables: ZERO Exchange, exact result") {
    val root = freshRoot()
    TxSql.installCatalog(spark, "spj", root)
    spark.sql("CREATE TABLE spj.a (k BIGINT, x BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql("CREATE TABLE spj.b (k BIGINT, y BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    (1 to 400).map(i => (i.toLong, i.toLong * 2)).toDF("k", "x")
      .createOrReplaceTempView("spj_sa")
    (1 to 400).map(i => (i.toLong, i.toLong * 3)).toDF("k", "y")
      .createOrReplaceTempView("spj_sb")
    spark.sql("INSERT INTO spj.a SELECT * FROM spj_sa")
    spark.sql("INSERT INTO spj.b SELECT * FROM spj_sb")
    withBucketing {
      // disable broadcast so the join must pick a partitioned strategy
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val q = spark.sql(
          "SELECT a.k, a.x, b.y FROM spj.a a JOIN spj.b b ON a.k = b.k")
        assert(shuffles(q) === 0,
          "storage-partitioned join must plan with zero Exchange:\n" +
            q.queryExecution.executedPlan.toString.take(3000))
        val got = q.as[(Long, Long, Long)].collect().sortBy(_._1)
        assert(got.length === 400)
        assert(got.forall { case (k, x, y) => x == 2 * k && y == 3 * k })
        // aggregate ON the join result still correct
        assert(spark.sql(
          "SELECT sum(a.x + b.y) AS s FROM spj.a a JOIN spj.b b " +
            "ON a.k = b.k").as[Long].head() ===
          (1 to 400).map(i => 5L * i).sum)
      } finally spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("fully-pruned side under v2 bucketing: no partitioning claim, exact empty result") {
    val root = freshRoot()
    TxSql.installCatalog(spark, "spje", root)
    spark.sql("CREATE TABLE spje.a (k BIGINT, x BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE spje.b (k BIGINT, y BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    (1 to 50).map(i => (i.toLong, i.toLong)).toDF("k", "x")
      .createOrReplaceTempView("spje_sa")
    (1 to 50).map(i => (i.toLong, i.toLong)).toDF("k", "y")
      .createOrReplaceTempView("spje_sb")
    spark.sql("INSERT INTO spje.a SELECT * FROM spje_sa")
    spark.sql("INSERT INTO spje.b SELECT * FROM spje_sb")
    withBucketing {
      // x = -1 prunes every file of a (manifest stats) — the scan must
      // not report a 0-partition KeyGroupedPartitioning
      assert(spark.sql(
        "SELECT count(*) AS n FROM spje.a a JOIN spje.b b ON a.k = b.k " +
          "WHERE a.x = -1").as[Long].head() === 0L)
    }
  }

  test("same join WITHOUT v2 bucketing: shuffled but identical result") {
    val root = freshRoot()
    TxSql.installCatalog(spark, "spjo", root)
    spark.sql("CREATE TABLE spjo.a (k BIGINT, x BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE spjo.b (k BIGINT, y BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    (1 to 100).map(i => (i.toLong, i.toLong)).toDF("k", "x")
      .createOrReplaceTempView("spjo_sa")
    (1 to 100).map(i => (i.toLong, -i.toLong)).toDF("k", "y")
      .createOrReplaceTempView("spjo_sb")
    spark.sql("INSERT INTO spjo.a SELECT * FROM spjo_sa")
    spark.sql("INSERT INTO spjo.b SELECT * FROM spjo_sb")
    val q = spark.sql(
      "SELECT sum(a.x + b.y) AS s FROM spjo.a a JOIN spjo.b b ON a.k = b.k")
    assert(q.as[Long].head() === 0L)
  }

  test("bucket table writes survive a source-column rename (logical-frame derivation)") {
    val root = freshRoot()
    TxSql.installCatalog(spark, "spjr", root)
    spark.sql("CREATE TABLE spjr.t (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO spjr.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE spjr.t RENAME COLUMN k TO kid")
    assert(TxTable.declaredPartitions(spark, s"$root/t") ===
      Seq("bucket(4,kid)"))
    // the bucket expression must derive on the LOGICAL frame — the
    // physical files still store 'k' (r17 self-review finding)
    spark.sql("INSERT INTO spjr.t VALUES (3, 'c')")
    assert(spark.sql("SELECT kid, v FROM spjr.t ORDER BY kid")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val snap = TxTable.snapshot(spark, s"$root/t").get
    assert(snap.files.map(f =>
      snap.index.values.get(f).flatMap(_.get("bucket(4,kid)")))
      .forall(_.exists(_.size == 1)),
      "post-rename bucket files must keep singleton value sets")
  }

  test("bucket tables stay correct under DML; compaction folds exactly") {
    val root = freshRoot()
    TxSql.installCatalog(spark, "spjd", root)
    spark.sql("CREATE TABLE spjd.t (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .createOrReplaceTempView("spjd_src")
    spark.sql("INSERT INTO spjd.t SELECT * FROM spjd_src")
    val dir = s"$root/t"
    TxTable.enableDeletionVectors(spark, dir)
    spark.sql("DELETE FROM spjd.t WHERE k = 42")
    // DV'd bucketed snapshot: reads stay exact (SpjDv composition)
    assert(spark.sql("SELECT count(*) AS n FROM spjd.t").as[Long]
      .head() === 99L)
    // compaction folds the DV AND preserves the one-bucket-per-file
    // layout (SPJ survives OPTIMIZE on a declared-bucket table)
    TxTable.compact(spark, dir, 2)
    assert(spark.sql("SELECT count(*) AS n FROM spjd.t").as[Long]
      .head() === 99L)
    val folded = TxTable.snapshot(spark, dir).get
    assert(folded.dels.isEmpty, "compact must fold the predicates")
    assert(folded.files.forall(f =>
      folded.index.values.get(f).flatMap(_.get("bucket(4,k)"))
        .exists(_.size == 1)),
      "compaction of a declared-bucket table must keep singleton " +
        "bucket value sets (the SPJ invariant)")
  }

  test("compact_deleted on a DV-merged bucket table: fold keeps zero-Exchange joins") {
    val root = freshRoot()
    TxSql.installCatalog(spark, "spjf", root)
    spark.sql("CREATE TABLE spjf.a (k BIGINT, x BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE spjf.b (k BIGINT, y BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    (1 to 200).map(i => (i.toLong, i.toLong * 2)).toDF("k", "x")
      .createOrReplaceTempView("spjf_sa")
    (1 to 200).map(i => (i.toLong, i.toLong * 3)).toDF("k", "y")
      .createOrReplaceTempView("spjf_sb")
    spark.sql("INSERT INTO spjf.a SELECT * FROM spjf_sa")
    spark.sql("INSERT INTO spjf.b SELECT * FROM spjf_sb")
    val dirA = s"$root/a"
    TxTable.enableDeletionVectors(spark, dirA)
    // a DV merge hides half the rows across every bucket, then the
    // pressure fold rewrites the hot files — THROUGH the bucket layout
    TxTable.merge(spark, dirA,
      (1 to 100).map(i => (i.toLong, i.toLong * 20)).toDF("k", "x"), "k")
    assert(TxTable.snapshot(spark, dirA).get.dels.nonEmpty)
    val (_, nFolded) = TxTable.compactDeleted(spark, dirA, 0.3)
    assert(nFolded > 0, "the merge-hidden files must fold")
    assert(TxTable.snapshot(spark, dirA).get.dels.isEmpty)
    withBucketing {
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val q = spark.sql(
          "SELECT a.k, a.x, b.y FROM spjf.a a JOIN spjf.b b ON a.k = b.k")
        assert(shuffles(q) === 0,
          "SPJ must survive a compact_deleted fold on a bucket table:\n" +
            q.queryExecution.executedPlan.toString.take(2000))
        val got = q.as[(Long, Long, Long)].collect().sortBy(_._1)
        assert(got.length === 200)
        assert(got.forall { case (k, x, _) =>
          x == (if (k <= 100) 20 * k else 2 * k) })
      } finally spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("DV'd bucketed tables still join with ZERO Exchange, visibility-exact") {
    // the r17 verdict's item #2: the zero-Exchange daily join must
    // SURVIVE merge-on-read DML on the fact table — per-bucket files
    // still group one partition per bucket; each partition filters
    // its files through the bound visibility predicates
    val root = freshRoot()
    TxSql.installCatalog(spark, "spjv", root)
    spark.sql("CREATE TABLE spjv.a (k BIGINT, x BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql("CREATE TABLE spjv.b (k BIGINT, y BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    (1 to 400).map(i => (i.toLong, i.toLong * 2)).toDF("k", "x")
      .createOrReplaceTempView("spjv_sa")
    (1 to 400).map(i => (i.toLong, i.toLong * 3)).toDF("k", "y")
      .createOrReplaceTempView("spjv_sb")
    spark.sql("INSERT INTO spjv.a SELECT * FROM spjv_sa")
    spark.sql("INSERT INTO spjv.b SELECT * FROM spjv_sb")
    val dirA = s"$root/a"
    TxTable.enableDeletionVectors(spark, dirA)
    // DV DELETE (IN-range predicate) + DV MERGE (IN-set entry + fresh
    // bucketed post-image files) — both must keep SPJ alive
    spark.sql("DELETE FROM spjv.a WHERE k <= 10")
    TxTable.merge(spark, dirA,
      Seq((42L, 999L), (500L, 1000L)).toDF("k", "x"), "k")
    val snapA = TxTable.snapshot(spark, dirA).get
    assert(snapA.dels.nonEmpty, "the DML must be merge-on-read")
    withBucketing {
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val q = spark.sql(
          "SELECT a.k, a.x, b.y FROM spjv.a a JOIN spjv.b b ON a.k = b.k")
        assert(shuffles(q) === 0,
          "DV'd storage-partitioned join must plan with zero Exchange:\n" +
            q.queryExecution.executedPlan.toString.take(3000))
        val got = q.as[(Long, Long, Long)].collect().sortBy(_._1)
        // k 1..10 hidden by the DV delete; k 42 updated by the DV
        // merge; k 500 has no b-side match
        assert(got.length === 390)
        assert(!got.exists(_._1 <= 10), "DV-deleted rows leaked into SPJ")
        assert(got.find(_._1 == 42L).map(_._2) === Some(999L),
          "DV-merged post-image missing from SPJ")
        assert(got.filter(t => t._1 != 42L)
          .forall { case (k, x, y) => x == 2 * k && y == 3 * k })
      } finally spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("column-mapped SPJ: a renamed bucket key still joins with ZERO Exchange under the new name") {
    val root = freshRoot()
    TxSql.installCatalog(spark, "spjcm", root)
    spark.sql("CREATE TABLE spjcm.a (k BIGINT, x BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql("CREATE TABLE spjcm.b (kid BIGINT, y BIGINT) " +
      "PARTITIONED BY (bucket(8, kid))")
    (1 to 300).map(i => (i.toLong, i.toLong * 2)).toDF("k", "x")
      .createOrReplaceTempView("spjcm_sa")
    (1 to 300).map(i => (i.toLong, i.toLong * 3)).toDF("kid", "y")
      .createOrReplaceTempView("spjcm_sb")
    spark.sql("INSERT INTO spjcm.a SELECT * FROM spjcm_sa")
    spark.sql("INSERT INTO spjcm.b SELECT * FROM spjcm_sb")
    // the rename puts a column mapping in force on the bucket KEY
    spark.sql("ALTER TABLE spjcm.a RENAME COLUMN k TO kid")
    val snap = TxTable.snapshot(spark, s"$root/a").get
    assert(snap.files.forall(f =>
      snap.index.values.get(f).flatMap(_.get("bucket(8,kid)"))
        .exists(_.size == 1)),
      "rename must rekey the bucket value sets to the new name")
    withBucketing {
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val q = spark.sql("SELECT a.kid, a.x, b.y FROM spjcm.a a " +
          "JOIN spjcm.b b ON a.kid = b.kid")
        assert(shuffles(q) === 0,
          "renamed-key storage-partitioned join must plan with zero " +
            "Exchange:\n" +
            q.queryExecution.executedPlan.toString.take(3000))
        val got = q.as[(Long, Long, Long)].collect().sortBy(_._1)
        assert(got.length === 300)
        assert(got.forall { case (k, x, y) => x == 2 * k && y == 3 * k })
      } finally spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("migrate_layout: evolve to bucket(), migrate incrementally, zero-Exchange join returns") {
    val root = freshRoot()
    TxSql.installCatalog(spark, "spjm", root)
    // spec-A history: a seg-partitioned table accumulates files that
    // know nothing about buckets
    spark.sql("CREATE TABLE spjm.a (k BIGINT, x BIGINT, seg STRING) " +
      "PARTITIONED BY (seg)")
    (1 to 200).map(i =>
      (i.toLong, i.toLong * 2, if (i % 2 == 0) "e" else "o"))
      .toDF("k", "x", "seg").createOrReplaceTempView("spjm_sa")
    spark.sql("INSERT INTO spjm.a SELECT * FROM spjm_sa")
    spark.sql("INSERT INTO spjm.a VALUES (201, 402, 'o'), " +
      "(202, 404, 'e')")
    // evolve the live table to the bucket layout; old files predate it
    spark.sql("CALL spjm.system.evolve_partitions('a', 'bucket(8,k)')")
    // a post-evolution append is ALREADY conforming
    spark.sql("INSERT INTO spjm.a VALUES (203, 406, 'o')")
    val snapE = TxTable.snapshot(spark, s"$root/a").get
    val conforming = snapE.files.filter(f =>
      snapE.index.values.get(f).flatMap(_.get("bucket(8,k)"))
        .exists(_.size == 1))
    assert(conforming.nonEmpty && conforming.size < snapE.files.size,
      "test setup: need both generations present")
    // the co-bucketed dim side
    spark.sql("CREATE TABLE spjm.b (k BIGINT, y BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    (1 to 203).map(i => (i.toLong, i.toLong * 3)).toDF("k", "y")
      .createOrReplaceTempView("spjm_sb")
    spark.sql("INSERT INTO spjm.b SELECT * FROM spjm_sb")
    def join() = spark.sql(
      "SELECT a.k, a.x, b.y FROM spjm.a a JOIN spjm.b b ON a.k = b.k")
    def checkContent(): Unit = {
      val got = join().as[(Long, Long, Long)].collect().sortBy(_._1)
      assert(got.length === 203)
      assert(got.forall { case (k, x, y) => x == 2 * k && y == 3 * k })
    }
    withBucketing {
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevMpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // keep scans multi-partition: a single-FilePartition scan
      // reports SinglePartition and satisfies the join without any
      // Exchange, which would make the negative assertion vacuous
      spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
      try {
        // mixed generations: SPJ off (never wrong), join shuffles
        assert(shuffles(join()) > 0,
          "mixed-generation table must not claim SPJ:\n" +
            join().queryExecution.executedPlan.toString.take(3000))
        checkContent()
        // incremental migration: one file per call, correct throughout
        val r1 = spark.sql(
          "CALL spjm.system.migrate_layout('a', 1)").head()
        assert(r1.getAs[Long]("migrated_files") === 1L)
        assert(r1.getAs[Long]("remaining_files") >= 1L)
        checkContent()
        // finish the migration: conforming files carry byte-untouched
        val before2 = TxTable.snapshot(spark, s"$root/a").get
        val r2 = spark.sql(
          "CALL spjm.system.migrate_layout('a', 100000)").head()
        assert(r2.getAs[Long]("remaining_files") === 0L)
        val after2 = TxTable.snapshot(spark, s"$root/a").get
        val conformingBefore2 = before2.files.filter(f =>
          before2.index.values.get(f).flatMap(_.get("bucket(8,k)"))
            .exists(_.size == 1))
        assert(conformingBefore2.forall(after2.files.toSet),
          "already-conforming files must carry over byte-untouched")
        // the zero-Exchange join is back
        assert(shuffles(join()) === 0,
          "fully-migrated table must serve SPJ:\n" +
            join().queryExecution.executedPlan.toString.take(3000))
        checkContent()
        // idempotent: nothing left to migrate, version unchanged
        val r3 = spark.sql(
          "CALL spjm.system.migrate_layout('a', 100000)").head()
        assert(r3.getAs[Long]("migrated_files") === 0L &&
          r3.getAs[Long]("version") === after2.version)
        // refuses without a declared bucket layout
        spark.sql("CREATE TABLE spjm.plain (k BIGINT)")
        val e = intercept[Exception](spark.sql(
          "CALL spjm.system.migrate_layout('plain', 10)").collect())
        assert(e.getMessage.contains("bucket") ||
          Option(e.getCause).exists(_.getMessage.contains("bucket")))
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
        spark.conf.set("spark.sql.files.maxPartitionBytes", prevMpb)
      }
    }
  }
}
