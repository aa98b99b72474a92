package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{IncrementalView, TxTable}

/** Writes beside reads on a change-feed-enabled TxTable built from
  * the sf0.1-shaped `orders`. Every pass starts from an empty table
  * and runs the same seeded sequence of commits (append, updateWhere,
  * deleteWhere, merge), folds the change feed into an aggregate view
  * (IncrementalView.maintain) every few commits, reads the table at
  * its final version, and ends with the [[Analytics]] queries over the
  * sf0.1-shaped tables. The sequence and the batches it hands in are
  * generated with the inputs (gen_data.py, `<data>/tc`). */
final class TableCommits extends Workload {
  import TableCommits._

  private var log: Seq[Step] = Nil
  private var table = ""
  private var view = ""

  private def batch(h: Harness, name: String): String = s"${h.data}/tc/$name.parquet"
  private def input(h: Harness, name: String): DataFrame = {
    val p = batch(h, name)
    h.spark.read.schema(graft.Tables.schemaFor(h.spark, p)).parquet(p)
  }

  def setup(h: Harness): Unit = {
    log = sequence(s"${h.data}/tc/sequence.json")
    Analytics.setup(h)
  }

  def pass(h: Harness): Unit = {
    val s = h.spark
    val t = h.tracer
    table = s"${h.work}/tables/p${h.pass}/orders"
    view = s"${h.work}/tables/p${h.pass}/by_status"
    TxTable.enableChangeFeed(s, table)
    log.foreach {
      case Append(n, b) => h.op("commit", n) {
        t.span("sources.TxTable.append")(TxTable.append(input(h, b), table)); None
      }
      case Merge(n, b, key) => h.op("commit", n) {
        t.span("sources.TxTable.merge")(TxTable.merge(s, table, input(h, b), key)); None
      }
      case u: Update => h.op("commit", u.name) {
        t.span("sources.TxTable.update")(TxTable.updateWhere(s, table, u.ranges, u.eq,
          u.set.map { case (c, e) => c -> expr(e) })); None
      }
      case d: Delete => h.op("commit", d.name) {
        t.span("sources.TxTable.delete")(TxTable.deleteWhere(s, table, d.ranges, d.eq)); None
      }
      case Maintain(n) => h.op("refresh", n) {
        t.span("sources.IncrementalView.maintain") {
          IncrementalView.maintain(s, table, view, "o_orderstatus", "o_cents")
        }
        None
      }
      case Read(n) => h.op("read", n, "sources.TxTable.read.exec") {
        val snap = t.span("sources.TxTable.snapshot")(TxTable.snapshot(s, table))
        Some(t.span("sources.TxTable.read") {
          TxTable.read(s, table, snap.map(_.version))
            .groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n"), sum("o_cents").as("cents"))
        })
      }
    }
    Analytics.pass(h)
  }

  def dump(h: Harness, out: String): Unit = {
    val s = h.spark
    TxTable.read(s, table).write.mode("overwrite").parquet(s"$out/final")
    TxTable.read(s, view).write.mode("overwrite").parquet(s"$out/view")
    h.dumpRows(s"$out/rows")
    Analytics.dumpOracles(out)
    // commit-layer accounting of the latest pass
    val snap = TxTable.snapshot(s, table).get
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val all = walk(new java.io.File(table))
    val dataFiles = all.filter(f => f.getName.endsWith(".parquet") && !f.getPath.contains("/_"))
    val live = snap.files.map(p => new java.io.File(s"$table/$p").length).sum
    val user = log.collect { case Append(_, b) => b; case Merge(_, b, _) => b }
      .map(b => new java.io.File(batch(h, b)).length).sum
    val written = all.map(_.length).sum
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/sources.json"),
      s"""{"files_added":${dataFiles.size},"bytes_written":$written,"user_bytes":$user,"live_bytes":$live,"versions":${snap.version}}""")
  }
}

object TableCommits {
  type Ranges = Seq[(String, Double, Double)]
  type Eq = Seq[(String, String)]

  sealed trait Step
  final case class Append(name: String, batch: String) extends Step
  final case class Merge(name: String, batch: String, key: String) extends Step
  /** `set` maps each column to a SQL expression. */
  final case class Update(name: String, ranges: Ranges, eq: Eq,
      set: Map[String, String]) extends Step
  final case class Delete(name: String, ranges: Ranges, eq: Eq) extends Step
  final case class Maintain(name: String) extends Step
  final case class Read(name: String) extends Step

  /** The operation sequence of one pass, as gen_data.py wrote it. */
  def sequence(path: String): Seq[Step] = {
    import com.fasterxml.jackson.databind.JsonNode
    import scala.jdk.CollectionConverters._
    def items(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
    def ranges(n: JsonNode): Ranges =
      items(n.get("ranges")).map(r => (r.get(0).asText, r.get(1).asDouble, r.get(2).asDouble))
    def eq(n: JsonNode): Eq = items(n.get("eq")).map(e => (e.get(0).asText, e.get(1).asText))
    items(new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))).map { n =>
      val name = n.get("name").asText
      n.get("op").asText match {
        case "append" => Append(name, n.get("batch").asText)
        case "merge" => Merge(name, n.get("batch").asText, n.get("key").asText)
        case "update" => Update(name, ranges(n), eq(n),
          n.get("set").properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
        case "delete" => Delete(name, ranges(n), eq(n))
        case "maintain" => Maintain(name)
        case "read" => Read(name)
        case op => throw new IllegalArgumentException(s"unknown step $op")
      }
    }
  }
}
