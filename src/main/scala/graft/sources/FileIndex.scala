package graft.sources

import org.apache.spark.sql.types._

/** The per-file skipping index of one [[TxTable.Snapshot]] — every
  * fact a reader may use to prove a data file holds no matching row,
  * in one immutable value:
  *
  *   - `stats`: file → column → (min, max), numeric, recorded as
  *     `min/max(col).cast("double")`;
  *   - `values`: file → column or partition transform (`days(ts)`,
  *     `bucket(8,k)`) → the file's bounded distinct set of canonical
  *     strings (`cast(col as string)`, or the transform's derivation);
  *   - `bloom`: one column and file → serialized bloom filter over the
  *     canonical string form of that column.
  *
  * Every reader prunes through [[candidates]], so the SQL scan, the
  * API reads and the DML verbs skip exactly the same files. Keys are
  * table-relative file paths (absolute for clone references) and
  * LOGICAL column names. Missing metadata is never a filter: a file
  * without an entry for a predicate's column is always a candidate. */
final case class FileIndex(
    stats: Map[String, Map[String, (Double, Double)]] = Map.empty,
    values: Map[String, Map[String, Set[String]]] = Map.empty,
    bloom: Option[(String, Map[String, Array[Byte]])] = None) {

  def isEmpty: Boolean = stats.isEmpty && values.isEmpty && bloom.isEmpty

  /** Columns with recorded stats — what a rewrite recomputes. */
  def statCols: Seq[String] = stats.values.flatMap(_.keys).toSeq.distinct.sorted

  /** Columns / transforms with recorded value sets. */
  def valueCols: Seq[String] = values.values.flatMap(_.keys).toSeq.distinct.sorted

  /** Only `files`' entries — the carry-over half of every rewrite
    * (entries of removed files would describe bytes no longer listed). */
  def restrictTo(files: Set[String]): FileIndex = FileIndex(
    stats.filter { case (f, _) => files(f) },
    values.filter { case (f, _) => files(f) },
    bloom.map { case (c, bs) => c -> bs.filter { case (f, _) => files(f) } }
      .filter(_._2.nonEmpty))

  /** Union, `that` winning per file (fresh entries over carried ones). */
  def ++(that: FileIndex): FileIndex = FileIndex(stats ++ that.stats,
    values ++ that.values, (bloom, that.bloom) match {
      case (Some((c, a)), Some((c2, b))) if c == c2 => Some(c -> (a ++ b))
      case (mine, theirs) => theirs.orElse(mine)
    })

  /** File keys mapped through `f` (a clone's absolute references). */
  def rekeyFiles(f: String => String): FileIndex = FileIndex(
    stats.map { case (k, v) => f(k) -> v },
    values.map { case (k, v) => f(k) -> v },
    bloom.map { case (c, bs) => c -> bs.map { case (k, v) => f(k) -> v } })

  /** Column keys renamed through `rk` (None drops the column's
    * metadata); transform entries rename their source column, so a
    * renamed partition column keeps pruning. */
  def renameColumns(rk: String => Option[String]): FileIndex = {
    def re[V](m: Map[String, Map[String, V]]) = m.map { case (f, cols) =>
      f -> cols.flatMap { case (k, v) =>
        TxTable.PartTransform.rename(k, rk).map(_ -> v) } }
    FileIndex(re(stats), re(values),
      bloom.flatMap { case (c, bs) => rk(c).map(_ -> bs) })
  }

  /** The files among `files` that MAY hold a row matching the
    * conjunctive predicate — the manifest's predicate language, the
    * same one [[TxTable.DelEntry]] records: numeric `ranges`
    * (`lo <= col <= hi`), value equalities `eqs` (`col = v`, compared
    * in the column's canonical string form) and IN-sets `ins` (the
    * column's canonical string form is one of the values). Every form
    * the index holds applies:
    *
    *   - stats prune ranges, and IN-sets of INTEGRAL columns only
    *     (recorded stats are `min/max(col).cast("double")`, so a
    *     string key's stats are lexicographic-then-cast artifacts
    *     that would falsely prune);
    *   - value sets prune equalities and IN-sets;
    *   - the bloom prunes equalities (columns whose canonical string
    *     form is lossless), integral point ranges whose bound is
    *     exactly a long strictly below 2^53 (above it the Double has
    *     already lost bits, so the probe string could miss the real
    *     key), and IN-sets.
    *
    * `schema` (LOGICAL names) gives the column types the canonical
    * forms need; it is evaluated at most once, only when a predicate
    * meets metadata that needs a type, and a column it lacks simply
    * loses the typed prunes (fail-open). */
  def candidates(files: Seq[String],
      ranges: Seq[(String, Double, Double)],
      eqs: Seq[(String, String)],
      ins: Seq[(String, Seq[String])],
      schema: => StructType): Seq[String] = {
    if (isEmpty || (ranges.isEmpty && eqs.isEmpty && ins.isEmpty))
      return files
    lazy val types: Map[String, DataType] =
      schema.fields.map(f => f.name -> f.dataType).toMap
    def integral(c: String): Boolean = types.get(c).exists(FileIndex.integral)
    val bloomCol = bloom.map(_._1)
    val (statCol, valueCol) = (statCols.toSet, valueCols.toSet)
    // probe values in the form the value sets and the bloom store: a
    // probe "3" against a double column becomes "3.0", so the prune
    // agrees with the type-coercing exact predicate
    val canonEqs = eqs.map { case (c, v) =>
      if (valueCol(c) || bloomCol.contains(c))
        c -> FileIndex.canonical(types.get(c), v)
      else c -> v
    }
    val inKeys = ins.map { case (c, vs) =>
      val numeric: Option[Array[Double]] =
        if (!statCol(c) || !integral(c)) None
        else {
          val ds = vs.flatMap(_.toDoubleOption)
          if (ds.length == vs.length) Some(ds.toArray.sorted) else None
        }
      (c, vs.toSet, numeric)
    }
    // a sorted key array admits [mn, mx] when some key falls inside
    def admits(keys: Array[Double], mn: Double, mx: Double): Boolean = {
      val i = java.util.Arrays.binarySearch(keys, mn)
      val at = if (i >= 0) i else -i - 1
      at < keys.length && keys(at) <= mx
    }
    // one probe list per predicate on the bloom column: every
    // predicate must admit the file through at least one of its probes
    val probes: Seq[Seq[String]] = bloomCol.toSeq.flatMap { bc =>
      canonEqs.collect { case (c, v) if c == bc &&
        types.get(c).exists(FileIndex.canonicalLossless) => Seq(v) } ++
        ranges.collect { case (c, lo, hi) if c == bc && lo == hi &&
          lo.isWhole && math.abs(lo) < FileIndex.ExactLongBound &&
          integral(c) => Seq(lo.toLong.toString) } ++
        ins.collect { case (c, vs) if c == bc => vs }
    }
    files.filter { f =>
      val st = stats.getOrElse(f, Map.empty)
      val vs = values.getOrElse(f, Map.empty)
      ranges.forall { case (c, lo, hi) =>
        st.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
      } && canonEqs.forall { case (c, v) =>
        vs.get(c).forall(_.contains(v))
      } && inKeys.forall { case (c, keys, numeric) =>
        vs.get(c).forall(_.exists(keys)) &&
          numeric.forall(ks => st.get(c).forall { case (mn, mx) =>
            admits(ks, mn, mx) })
      } && (probes.isEmpty || bloom.flatMap(_._2.get(f)).forall { bytes =>
        val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bytes))
        probes.forall(_.exists(bf.mightContainString))
      })
    }
  }

  /** The manifest body fields carrying this index (leading comma;
    * empty for an empty index): `mstats` per file — `cols` {c: [mn,
    * mx]} and `vals` {c: [..]} — and `blooms` {col, files: [{path,
    * b64}]}. Sorted, so equal indexes serialize identically. */
  def json: String = {
    import TxTable.jq
    val mstats =
      if (stats.isEmpty && values.isEmpty) ""
      else ",\"mstats\":[" + (stats.keySet ++ values.keySet).toSeq.sorted
        .map { pth =>
          val cols = stats.getOrElse(pth, Map.empty).toSeq.sortBy(_._1)
            .map { case (c, (mn, mx)) => jq(c) + s":[$mn,$mx]" }
            .mkString("{", ",", "}")
          val vals = values.getOrElse(pth, Map.empty).toSeq.sortBy(_._1)
            .map { case (c, vs) =>
              jq(c) + ":[" + vs.toSeq.sorted.map(jq).mkString(",") + "]"
            }.mkString("{", ",", "}")
          s"""{"path":${jq(pth)},"cols":$cols,"vals":$vals}"""
        }.mkString(",") + "]"
    val blooms = bloom match {
      case Some((bc, bs)) if bs.nonEmpty =>
        ",\"blooms\":{\"col\":" + jq(bc) + ",\"files\":[" +
          bs.toSeq.sortBy(_._1).map { case (pth, bytes) =>
            s"""{"path":${jq(pth)},"b64":"""" +
              java.util.Base64.getEncoder.encodeToString(bytes) + "\"}"
          }.mkString(",") + "]}"
      case _ => ""
    }
    mstats + blooms
  }
}

object FileIndex {
  val empty: FileIndex = FileIndex()

  /** 2^53: longs strictly below it survive the Double round-trip the
    * manifest's numeric predicates take. */
  private val ExactLongBound = (1L << 53).toDouble

  private[sources] def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Types whose canonical string form (`cast(col as string)`)
    * round-trips EXACTLY: float/double (NaN, -0.0), timestamp
    * (session-zone rendering) and binary do not, so neither a bloom
    * probe nor a recorded IN-set predicate may rely on it. */
  private[sources] def canonicalLossless(dt: DataType): Boolean =
    integral(dt) || dt == StringType || dt == DateType

  /** `v` in the canonical string form of a column of type `dt` —
    * `cast(cast(v as dt) as string)`. Unparseable probes and unknown
    * types pass through raw: the stored sets cannot contain them and
    * the coerced exact predicate matches no row either, so prune and
    * predicate still agree. */
  private def canonical(dt: Option[DataType], v: String): String = dt match {
    case Some(t) if t != StringType =>
      import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
      val canon =
        try Cast(Cast(Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(v),
          StringType), t, Some("UTC"), EvalMode.LEGACY),
          StringType, Some("UTC"), EvalMode.LEGACY).eval()
        catch { case _: Exception => null }
      if (canon == null) v else canon.toString
    case _ => v
  }

  /** The index recorded in one parsed manifest root. Also reads the
    * legacy single-column form (`statscol` + per-file `stats` min/max)
    * into `stats`, so tables written before the single index keep
    * pruning. `num` converts a JSON number (the caller names the
    * manifest in its error). */
  private[sources] def parse(root: Map[String, Any],
      num: Any => Double): FileIndex = {
    def obj(x: Any) = x.asInstanceOf[Map[String, Any]]
    def path(e: Map[String, Any]) = e("path").asInstanceOf[String]
    val entries = root.get("mstats") match {
      case Some(l: List[_]) => l.collect { case m: Map[_, _] => obj(m) }
      case _ => Nil
    }
    val mstats = entries.map { e =>
      path(e) -> (e.get("cols") match {
        case Some(c: Map[_, _]) => obj(c).map { case (k, x) =>
          val List(mn, mx) = x.asInstanceOf[List[Any]]
          k -> (num(mn), num(mx))
        }
        case _ => Map.empty[String, (Double, Double)]
      })
    }.toMap
    val values = entries.map { e =>
      path(e) -> (e.get("vals") match {
        case Some(c: Map[_, _]) => obj(c).map { case (k, x) =>
          k -> x.asInstanceOf[List[Any]].collect { case s: String => s }.toSet
        }
        case _ => Map.empty[String, Set[String]]
      })
    }.toMap
    val legacy = (root.get("statscol"), root.get("stats")) match {
      case (Some(c: String), Some(l: List[_])) =>
        l.collect { case m: Map[_, _] =>
          val e = obj(m)
          path(e) -> Map(c -> (num(e("min")), num(e("max"))))
        }.toMap
      case _ => Map.empty[String, Map[String, (Double, Double)]]
    }
    val stats = legacy.foldLeft(mstats) { case (acc, (f, m)) =>
      acc.updated(f, acc.getOrElse(f, Map.empty) ++ m) }
    val bloom = root.get("blooms") match {
      case Some(m: Map[_, _]) =>
        val o = obj(m)
        val files = o.get("files") match {
          case Some(l: List[_]) => l.collect { case e: Map[_, _] =>
            path(obj(e)) -> java.util.Base64.getDecoder.decode(
              obj(e)("b64").asInstanceOf[String])
          }.toMap
          case _ => Map.empty[String, Array[Byte]]
        }
        o.get("col").collect { case c: String => c -> files }
          .filter(_._2.nonEmpty)
      case _ => None
    }
    FileIndex(stats, values, bloom)
  }
}
