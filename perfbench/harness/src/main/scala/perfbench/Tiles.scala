package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import graft.funcs._
import graft.ir.Expr
import graft.model.{Model, StepSpec}

/** Builds the dashboard tiles of the semantic_mix workload from their
  * generated specs (see perfbench/gen.py, which renders the same spec as
  * DuckDB SQL). Only graft's public Model builder is used. */
final class Tiles(dir: String) {

  private def moneySum(e: Expr): Expr =
    cast(sum(cast(floor(e * lit(100.0) + lit(0.5)), "bigint")), "double") / lit(100.0)

  private def exactAvg(e: Expr): Expr =
    cast(sum(cast(e, "decimal(18,9)")), "double") / count()

  /** lineitem → orders → customer → nation, each hop a named `withJoinOne`. */
  def sales: Model = {
    val nation = Model.parquet(dir, "nation").withPrimaryKey(col("n_nationkey"))
    val customer = Model.parquet(dir, "customer").withPrimaryKey(col("c_custkey"))
      .withJoinOne(nation, named = "nation", foreignKey = col("c_nationkey"))
    val orders = Model.parquet(dir, "orders").withPrimaryKey(col("o_orderkey"))
      .withJoinOne(customer, named = "customer", foreignKey = col("o_custkey"))
    val li = Model.parquet(dir, "lineitem")
      .withJoinOne(orders, named = "orders", foreignKey = col("l_orderkey"))
    val o = li.rel("orders")
    li.withAttributes(
      col("l_orderkey").named("orderkey"),
      col("l_linenumber").named("linenumber"),
      col("l_returnflag").named("returnflag"),
      col("l_linestatus").named("linestatus"),
      col("l_shipdate").named("shipdate"),
      col("l_quantity").named("quantity"),
      col("l_discount").named("discount"),
      col("l_extendedprice").named("price"),
      o.attr("o_orderpriority").named("priority"),
      o.attr("o_orderstatus").named("orderstatus"),
      o.attr("o_orderdate").named("orderdate"),
      o.rel("customer").attr("c_mktsegment").named("segment"),
      o.rel("customer").rel("nation").attr("n_name").named("nation"),
    ).withMeasures(
      count().named("n_lines"),
      moneySum(col("l_extendedprice")).named("revenue"),
      sum(col("l_quantity")).named("qty"),
      exactAvg(col("l_discount")).named("avg_disc"),
      max(col("l_extendedprice")).named("max_price"),
      countDistinct(col("l_orderkey")).named("orders"),
    )
  }

  /** events with an activity schema (user, timestamp, event type). */
  def events: Model =
    Model.parquet(dir, "events")
      .withAttributes(
        col("event_id").named("event_id"),
        col("event_type").named("etype"),
        col("user_id").named("user_id"),
        col("ts").named("ts"),
        col("value").named("value"))
      .withMeasures(
        count().named("n_events"),
        countDistinct(col("user_id")).named("users"),
        moneySum(col("value")).named("value_total"),
        max(col("value")).named("value_max"))
      .withActivitySchema(col("user_id"), col("ts"), col("event_type"))

  private def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  private def value(n: JsonNode): Any =
    if (n.isTextual) n.asText else if (n.isIntegralNumber) n.asLong else n.asDouble

  private def pred(m: Model, f: JsonNode): Expr = {
    val a = m.attr(f.get(0).asText)
    val v = f.get(2)
    f.get(1).asText match {
      case ">=" => a >= lit(value(v))
      case "<"  => a < lit(value(v))
      case "="  => a === lit(value(v))
      case "in" => a.in(v.elements().asScala.map(value).toSeq)
      case op   => throw new IllegalArgumentException(s"filter op $op")
    }
  }

  private def filtered(m: Model, f: JsonNode): Model =
    if (f == null || f.isNull) m else m.filter(pred(m, f))

  /** A group column: the attribute itself, or its truncation to a grain. */
  private def group(m: Model, g: JsonNode): Expr = {
    val name = g.get(0).asText
    if (g.get(1).isNull) m.attr(name)
    else {
      val grain = g.get(1).asText
      val base = m.attr(name) match { case Expr.Named(e, _) => e; case e => e }
      (grain match {
        case "year" => base.byYear
        case "quarter" => base.byQuarter
        case "month" => base.byMonth
        case "day" => base.byDay
      }).named(s"${name}_$grain")
    }
  }

  private def groupName(g: JsonNode): String =
    if (g.get(1).isNull) g.get(0).asText else s"${g.get(0).asText}_${g.get(1).asText}"

  private def steps(t: JsonNode): Seq[StepSpec] = strs(t.get("steps")).map(StepSpec.Key(_))

  def build(t: JsonNode): Model = {
    val base = if (t.get("base").asText == "sales") sales else events
    val m = filtered(base, t.get("filter"))
    t.get("kind").asText match {
      case "agg" =>
        val gs = t.get("groups").elements().asScala.toSeq
        gs.foldLeft(m.aggregate(
          groups = gs.map(group(m, _)),
          measures = strs(t.get("measures")).map(m.msr))) { (acc, g) =>
          acc.sort(col(groupName(g)))
        }
      case "topn" =>
        val g = t.get("groups").get(0)
        val ms = strs(t.get("measures"))
        m.aggregate(groups = Seq(group(m, g)), measures = ms.map(m.msr))
          .sort(col(ms.head), dir = "desc")
          .sort(col(groupName(g)))
          .limit(t.get("limit").asLong)
      case "pick" =>
        strs(t.get("keys")).foldLeft(m.pick(strs(t.get("cols")).map(m.attr): _*)) {
          (acc, k) => acc.sort(col(k))
        }.limit(t.get("limit").asLong)
      case "fold" =>
        val g = t.get("groups").get(0)
        val parts = t.get("fold").elements().asScala.toSeq
        m.aggregate(
          groups = Seq(group(m, g)),
          measures = parts.map(p =>
            countIf(m.attr(p.get(1).asText) === lit(value(p.get(2))))
              .named(p.get(0).asText)))
          .fold(ids = Seq(col(groupName(g))),
            values = parts.map(p => col(p.get(0).asText)),
            keyName = "part", valueName = "n")
          .sort(col(groupName(g))).sort(col("part"))
      case "union" =>
        val g = t.get("groups").get(0)
        val ms = strs(t.get("measures"))
        def branch(tag: String, f: JsonNode) = {
          val b = filtered(base, f)
          b.aggregate(groups = Seq(group(b, g)), measures = ms.map(b.msr))
            .pick((lit(tag).named("branch") +: (groupName(g) +: ms).map(col)): _*)
        }
        branch("a", t.get("filter")).unionAll(branch("b", t.get("filter2")))
          .sort(col("branch")).sort(col(groupName(g)))
      case "funnel" =>
        m.funnel(steps(t), topOfFunnel = "users")
      case "steps" =>
        val names = strs(t.get("steps"))
        val matched = m.matchSteps(steps(t))
        matched.pick((col("user_id") +: names.distinct.map(s =>
          matched.rel(s).attr("ts").named(s"${s}_ts")) :+
          matched.attr("last_matched_step_index")): _*)
          .sort(col("user_id"))
          .limit(t.get("limit").asLong)
      case k => throw new IllegalArgumentException(s"tile kind $k")
    }
  }
}
