package graft.sources

import java.util.Collections

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Table-maintenance stored procedures for the TxTable catalog — the
  * `CALL cat.system.<proc>(...)` surface (the Iceberg procedures
  * shape on Spark 4's DSv2 `ProcedureCatalog`): OPTIMIZE, rollback,
  * vacuum, and DESCRIBE HISTORY all become SQL statements, so the
  * whole table lifecycle is drivable without touching the Scala API.
  * Each procedure routes through the SAME TxTable verb as the API
  * path (same commit protocol, same conflict semantics) and returns
  * its outcome as rows via a driver-local scan — results are
  * manifest-sized, never data-sized. */
private[sources] object TxProcedures {

  val names: Seq[String] =
    Seq("compact", "restore", "vacuum", "vacuum_older_than", "history",
      "create_checkpoint", "enable_change_feed",
      "enable_deletion_vectors", "detail",
      "add_constraint", "drop_constraint", "constraints", "clone",
      "compact_where", "dv_pressure", "compact_deleted",
      "evolve_partitions", "migrate_layout")

  def apply(name: String, root: String): UnboundProcedure = name match {
    case "compact" => new TxProc(name, root,
      params = Seq("table" -> StringType, "target_files" -> IntegerType),
      out = StructType(Seq(StructField("version", LongType),
        StructField("n_files", LongType))),
      run = { (spark, dir, args) =>
        val v = TxTable.compact(spark, dir, args(1).asInstanceOf[Int])
        val n = TxTable.snapshot(spark, dir).get.files.size.toLong
        Seq(new GenericInternalRow(Array[Any](v, n)))
      })
    case "restore" => new TxProc(name, root,
      params = Seq("table" -> StringType, "version" -> LongType),
      out = StructType(Seq(StructField("version", LongType))),
      run = { (spark, dir, args) =>
        val v = TxTable.restore(spark, dir, args(1).asInstanceOf[Long])
        Seq(new GenericInternalRow(Array[Any](v)))
      })
    case "vacuum" => new TxProc(name, root,
      params = Seq("table" -> StringType, "retain_last" -> IntegerType),
      out = StructType(Seq(StructField("manifests_deleted", LongType),
        StructField("data_files_deleted", LongType))),
      run = { (spark, dir, args) =>
        val (m, f) = TxTable.vacuum(spark, dir, args(1).asInstanceOf[Int])
        Seq(new GenericInternalRow(Array[Any](m.toLong, f.toLong)))
      })
    case "vacuum_older_than" => new TxProc(name, root,
      params = Seq("table" -> StringType, "cutoff_ts" -> LongType),
      out = StructType(Seq(StructField("manifests_deleted", LongType),
        StructField("data_files_deleted", LongType))),
      run = { (spark, dir, args) =>
        val (m, f) = TxTable.vacuumOlderThan(spark, dir,
          args(1).asInstanceOf[Long])
        Seq(new GenericInternalRow(Array[Any](m.toLong, f.toLong)))
      })
    case "history" => new TxProc(name, root,
      params = Seq("table" -> StringType),
      out = StructType(Seq(StructField("version", LongType),
        StructField("op", StringType),
        StructField("n_files", LongType), StructField("n_txns", LongType),
        StructField("stat_cols", StringType),
        StructField("bloom_col", StringType),
        StructField("n_change_files", LongType),
        StructField("commit_ts", LongType),
        StructField("n_dels", LongType))),
      run = { (spark, dir, _) =>
        TxTable.history(spark, dir).collect().toSeq.map { r =>
          new GenericInternalRow(Array[Any](
            r.getLong(0), UTF8String.fromString(r.getString(1)),
            r.getLong(2), r.getLong(3),
            UTF8String.fromString(r.getString(4)),
            Option(r.getString(5)).map(UTF8String.fromString).orNull,
            r.getLong(6), r.getLong(7), r.getLong(8)))
        }
      })
    // DESCRIBE DETAIL analog: one row of table-level operational
    // facts — the head version/op/clock, file count and total data
    // bytes (manifest-listed files only, one driver listing), the
    // declared partition column, and whether the change feed records
    case "detail" => new TxProc(name, root,
      params = Seq("table" -> StringType),
      out = StructType(Seq(StructField("version", LongType),
        StructField("op", StringType),
        StructField("commit_ts", LongType),
        StructField("n_files", LongType),
        StructField("data_bytes", LongType),
        StructField("partition_col", StringType),
        StructField("change_feed", BooleanType),
        StructField("n_change_files", LongType),
        StructField("n_dv_files", LongType),
        StructField("n_del_entries", LongType))),
      run = { (spark, dir, _) =>
        val snap = TxTable.snapshot(spark, dir).getOrElse(
          throw new IllegalArgumentException(
            s"no committed version at $dir"))
        val root0 = new org.apache.hadoop.fs.Path(dir)
        val fsys = root0.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val bytes = snap.files.map { f =>
          val p = new org.apache.hadoop.fs.Path(dir, f)
          if (fsys.exists(p)) fsys.getFileStatus(p).getLen else 0L
        }.sum
        // deletion pressure stays MANIFEST-DERIVED here: DV'd-file and
        // standing-entry counts come from the snapshot alone, so
        // `detail` never triggers a data scan — exact hidden-row
        // totals belong to the dedicated dv_pressure procedure
        Seq(new GenericInternalRow(Array[Any](
          snap.version, UTF8String.fromString(snap.op), snap.ts,
          snap.files.size.toLong, bytes,
          TxTable.declaredPartition(spark, dir)
            .map(UTF8String.fromString).orNull,
          TxTable.changeFeedEnabled(spark, dir),
          snap.changes.size.toLong,
          snap.delsByFile.size.toLong, snap.dels.size.toLong)))
      })
    // per-file deletion pressure (the `n_dv_files`/`dv_hidden_rows`
    // aggregate in `detail`, itemized): which files are worth folding
    case "dv_pressure" => new TxProc(name, root,
      params = Seq("table" -> StringType),
      out = StructType(Seq(StructField("file", StringType),
        StructField("total_rows", LongType),
        StructField("hidden_rows", LongType),
        StructField("del_ratio", DoubleType))),
      run = { (spark, dir, _) =>
        TxTable.dvPressure(spark, dir).map { case (f, tot, hid) =>
          new GenericInternalRow(Array[Any](UTF8String.fromString(f),
            tot, hid, if (tot == 0L) 0.0 else hid.toDouble / tot))
        }
      })
    // Iceberg's partition-spec evolution: change a live table's
    // declared partitioning with zero rewrites — old files keep
    // pruning under their recorded spec, new writes land under the
    // new one (transforms comma-separated, e.g. 'hours(ts)')
    case "evolve_partitions" => new TxProc(name, root,
      params = Seq("table" -> StringType, "transforms" -> StringType),
      out = StructType(Seq(StructField("previous", StringType),
        StructField("current", StringType))),
      run = { (spark, dir, args) =>
        val prev = TxTable.declaredPartitions(spark, dir).mkString(",")
        // split on TOP-LEVEL commas only: 'bucket(8,k)' is one
        // transform, 'days(ts),region' is two
        val raw = args(1).asInstanceOf[String]
        val cols = {
          val out = Seq.newBuilder[String]
          var depth = 0
          val curr = new StringBuilder
          raw.foreach {
            case '(' => depth += 1; curr += '('
            case ')' => depth -= 1; curr += ')'
            case ',' if depth == 0 =>
              out += curr.result(); curr.clear()
            case c => curr += c
          }
          out += curr.result()
          out.result().map(_.trim).filter(_.nonEmpty)
        }
        TxTable.evolvePartitions(spark, dir, cols)
        Seq(new GenericInternalRow(Array[Any](
          UTF8String.fromString(prev),
          UTF8String.fromString(cols.mkString(",")))))
      })
    // Delta's tombstone-ratio maintenance: fold ONLY files whose
    // hidden-row ratio crosses the threshold
    case "compact_deleted" => new TxProc(name, root,
      params = Seq("table" -> StringType,
        "min_del_ratio" -> DoubleType, "target_files" -> IntegerType),
      out = StructType(Seq(StructField("version", LongType),
        StructField("folded_files", LongType))),
      run = { (spark, dir, args) =>
        val (v, folded) = TxTable.compactDeleted(spark, dir,
          args(1).asInstanceOf[Double], args(2).asInstanceOf[Int])
        Seq(new GenericInternalRow(Array[Any](v, folded.toLong)))
      })
    // bridge from spec evolution to SPJ: rewrite ONLY the files that
    // predate the declared bucket() layout (max_files bounds one
    // call's bytes — incremental migration over maintenance windows)
    case "migrate_layout" => new TxProc(name, root,
      params = Seq("table" -> StringType, "max_files" -> IntegerType),
      out = StructType(Seq(StructField("version", LongType),
        StructField("migrated_files", LongType),
        StructField("remaining_files", LongType))),
      run = { (spark, dir, args) =>
        val (v, moved, left) = TxTable.migrateLayout(spark, dir,
          args(1).asInstanceOf[Int])
        Seq(new GenericInternalRow(Array[Any](v, moved.toLong,
          left.toLong)))
      })
    case "enable_change_feed" => new TxProc(name, root,
      params = Seq("table" -> StringType),
      out = StructType(Seq(StructField("enabled", BooleanType))),
      run = { (spark, dir, _) =>
        TxTable.enableChangeFeed(spark, dir)
        Seq(new GenericInternalRow(Array[Any](true)))
      })
    case "enable_deletion_vectors" => new TxProc(name, root,
      params = Seq("table" -> StringType),
      out = StructType(Seq(StructField("enabled", BooleanType))),
      run = { (spark, dir, _) =>
        TxTable.enableDeletionVectors(spark, dir)
        Seq(new GenericInternalRow(Array[Any](true)))
      })
    case "create_checkpoint" => new TxProc(name, root,
      params = Seq("table" -> StringType),
      out = StructType(Seq(StructField("version", LongType))),
      run = { (spark, dir, _) =>
        val v = TxTable.snapshot(spark, dir).getOrElse(
          throw new IllegalArgumentException(
            s"no committed version at $dir")).version
        TxTable.writeCheckpointAt(spark, dir, v)
        Seq(new GenericInternalRow(Array[Any](v)))
      })
    // OPTIMIZE ... WHERE: compact one partition's small files, not
    // the table (values comma-separated; partCol may be a transform)
    case "compact_where" => new TxProc(name, root,
      params = Seq("table" -> StringType, "part_col" -> StringType,
        "values" -> StringType, "target_files" -> IntegerType),
      out = StructType(Seq(StructField("version", LongType),
        StructField("n_files", LongType))),
      run = { (spark, dir, args) =>
        val v = TxTable.compactWhere(spark, dir,
          args(1).asInstanceOf[String],
          args(2).asInstanceOf[String].split(',').toSeq
            .map(_.trim).filter(_.nonEmpty),
          args(3).asInstanceOf[Int])
        Seq(new GenericInternalRow(Array[Any](v,
          TxTable.snapshot(spark, dir).get.files.size.toLong)))
      })
    // Delta's CREATE TABLE ... SHALLOW CLONE as a procedure: the
    // second arg is the TARGET table name under the same root
    case "clone" => new TxProc(name, root,
      params = Seq("table" -> StringType, "target" -> StringType),
      out = StructType(Seq(StructField("version", LongType),
        StructField("n_files", LongType))),
      run = { (spark, dir, args) =>
        val dst = new org.apache.hadoop.fs.Path(root,
          args(1).asInstanceOf[String]).toString
        val v = TxTable.cloneShallow(spark, dir, dst)
        Seq(new GenericInternalRow(Array[Any](v,
          TxTable.snapshot(spark, dst).get.files.size.toLong)))
      })
    // Delta's ALTER TABLE ADD CONSTRAINT ... CHECK (...) as a
    // procedure (Spark's generic ALTER grammar has no CONSTRAINT
    // clause to intercept): validates the whole existing table, then
    // every write enforces in-plan
    case "add_constraint" => new TxProc(name, root,
      params = Seq("table" -> StringType, "name" -> StringType,
        "expr" -> StringType),
      out = StructType(Seq(StructField("name", StringType),
        StructField("expr", StringType))),
      run = { (spark, dir, args) =>
        val cn = args(1).asInstanceOf[String]
        val ce = args(2).asInstanceOf[String]
        TxTable.addConstraint(spark, dir, cn, ce)
        Seq(new GenericInternalRow(Array[Any](
          UTF8String.fromString(cn), UTF8String.fromString(ce))))
      })
    case "drop_constraint" => new TxProc(name, root,
      params = Seq("table" -> StringType, "name" -> StringType),
      out = StructType(Seq(StructField("dropped", BooleanType))),
      run = { (spark, dir, args) =>
        Seq(new GenericInternalRow(Array[Any](TxTable.dropConstraint(
          spark, dir, args(1).asInstanceOf[String]))))
      })
    case "constraints" => new TxProc(name, root,
      params = Seq("table" -> StringType),
      out = StructType(Seq(StructField("name", StringType),
        StructField("expr", StringType))),
      run = { (spark, dir, _) =>
        TxTable.constraints(spark, dir).map { case (n, e) =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(n), UTF8String.fromString(e)))
        }
      })
    case other => throw new UnsupportedOperationException(
      s"txtable: unknown procedure system.$other " +
        s"(available: ${names.mkString(", ")})")
  }
}

/** One procedure: unbound == bound (fixed signature, the Iceberg
  * pattern). `run(spark, tableDir, args)` returns the result rows. */
private class TxProc(name0: String, root: String,
    params: Seq[(String, DataType)], out: StructType,
    run: (SparkSession, String, Seq[Any]) => Seq[InternalRow])
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = name0
  override def description(): String = s"txtable maintenance: $name0"
  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] =
    params.map { case (n, t) => ProcedureParameter.in(n, t).build() }.toArray

  override def isDeterministic: Boolean = false // mutates table state

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val spark = SparkSession.active
    val args = params.zipWithIndex.map { case ((_, t), i) =>
      t match {
        case StringType => input.getUTF8String(i).toString
        case IntegerType => input.getInt(i)
        case LongType => input.getLong(i)
        case DoubleType => input.getDouble(i)
        case other => throw new IllegalStateException(other.sql)
      }
    }
    val dir = new org.apache.hadoop.fs.Path(root,
      args.head.asInstanceOf[String]).toString
    val result = run(spark, dir, args).toArray
    Collections.singletonList[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = result
      override def readSchema(): StructType = out
    }).iterator()
  }
}
