package perfbench

import graft.QueryModule

/** The read-only analytics phase of a table_commits pass: TPC-H
  * queries from graft.operators and a data-quality suite from
  * graft.quality over the sf0.1-shaped tables. Each operation is one
  * query: the module's query function runs inside `<module>.construct`
  * (plan construction, plus any job it runs eagerly) and the
  * collect inside `<module>.exec`. */
object Analytics {
  val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events")

  import graft.operators._
  import graft.quality.DataQualityQueries
  /** The fixed query list: (layer, module, query). */
  val plan: Seq[(String, QueryModule, String)] = Seq(
    ("operators", RelationalQueries, "q1_pricing_summary"),
    ("quality", DataQualityQueries, "dq_suite"),
    ("operators", TpchQueries, "q_tpch_q3"),
    ("operators", TpchQueries, "q_tpch_q6"))

  def setup(h: Harness): Unit = h.tracer.span("Tables.schema") {
    tables.foreach(t => graft.Tables.schemaFor(h.spark, s"${h.data}/sf/$t.parquet"))
  }

  def pass(h: Harness): Unit = plan.foreach { case (layer, mod, q) =>
    h.op("query", q, s"$layer.exec") {
      Some(h.tracer.span(s"$layer.construct")(mod.queries(q)(h.spark, s"${h.data}/sf")))
    }
  }

  /** The DuckDB oracle SQL of every query, for the verifier. */
  def dumpOracles(out: String): Unit = {
    val oracles = plan.map { case (_, mod, q) => Json.str(q) + ":" + Json.str(mod.oracles(q)) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracles.json"),
      oracles.mkString("{", ",\n", "}"))
  }
}
