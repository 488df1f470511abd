package perfbench

import scala.jdk.CollectionConverters._

import graft.etl.{CleanNames, Dedup, Normalize, OrdersEtl, Pipeline, Readers, Sink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The paper's job: `OrdersEtl.write()` over the generated CSVs, then
  * closed-loop `findSimilarProducts` lookups from one client against the
  * same processed products.
  */
final class Etl(conf: Conf) extends Workload {
  private val table = "bench.orders"
  private val lookups: Seq[(Long, Seq[Long])] = conf.list("lookups").map { l =>
    val a = l.asInstanceOf[java.util.List[Any]].asScala.toSeq
    (a.head.asInstanceOf[Number].longValue,
      a(1).asInstanceOf[java.util.List[Any]].asScala.map(_.asInstanceOf[Number].longValue).toSeq)
  }

  private def job(spark: SparkSession, warm: Boolean): OrdersEtl =
    if (warm) new OrdersEtl(spark, conf.str("warm_orders"), conf.str("warm_products"),
      conf.str("warm_warehouse"), table)
    else new OrdersEtl(spark, conf.str("orders"), conf.str("products"),
      conf.str("warehouse"), table)

  def firstTouch(spark: SparkSession): Unit = {
    Readers.ordersCsv(spark, conf.str("orders")).schema
    Readers.productsCsv(spark, conf.str("products")).schema
  }

  def warmup(spark: SparkSession): Unit = {
    val etl = job(spark, warm = true)
    etl.write()
    conf.list("warm_lookups").foreach { l =>
      val a = l.asInstanceOf[java.util.List[Any]].asScala.map(_.asInstanceOf[Number].longValue)
      etl.findSimilarProducts(a.head, a.tail.toSeq)
    }
  }

  private def lookup(etl: OrdersEtl, i: Int): java.util.Map[String, Any] = {
    val (target, cands) = lookups(i)
    val t0 = System.nanoTime()
    val res = etl.findSimilarProducts(target, cands)
    val r = new java.util.LinkedHashMap[String, Any]()
    r.put("i", i)
    r.put("seconds", (System.nanoTime() - t0) / 1e9)
    r.put("scores", res.map { case (k, v) => k.toString -> v }.asJava)
    r
  }

  /** One timed run: the whole job from construction to committed table,
    * then every lookup once, in order.
    */
  private def timedRun(ctx: Ctx, t: Tracer)
  : (Double, java.util.List[java.util.Map[String, Any]]) = {
    val w0 = System.nanoTime()
    val etl = t.span("etl.construct", "etl") { val e = job(ctx.spark, warm = false); e.process(); e }
    t.span("etl.write", "exec")(etl.write())
    val wall = (System.nanoTime() - w0) / 1e9
    val out = new java.util.ArrayList[java.util.Map[String, Any]]()
    lookups.indices.foreach(i => out.add(t.span("etl.lookup", "exec")(lookup(etl, i))))
    (wall, out)
  }

  def run(ctx: Ctx): Unit = {
    if (!ctx.trace) {
      val (wall, looks) = timedRun(ctx, Tracer.off)
      ctx.out.put("write_s", wall)
      ctx.out.put("lookups", looks)
    } else traced(ctx)
    ctx.out.put("output", outputStats(ctx.spark))
  }

  /** The timed run under the tracer, then each ETL step's incremental cost
    * from noop-writes of successive pipeline prefixes.
    */
  private def traced(ctx: Ctx): Unit = {
    val t = ctx.tracer()
    val (wall, looks) = t.span("run", "bench") {
      val r = timedRun(ctx, t)
      prefixes(ctx, t)
      r
    }
    ctx.out.put("write_s", wall)
    ctx.out.put("lookups", looks)
    ctx.putTraceLayers(t, t.spans.head)
    ctx.layers.put("etl.lookup_s",
      looks.asScala.map(_.get("seconds").asInstanceOf[Double]).sum / math.max(1, looks.size))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Orders-side prefixes (scan, casts, dedup, name cleaning), then the
    * join with the whole products pipeline, then the real sink; each step's
    * cost is its prefix's wall minus the previous prefix's.
    */
  private def prefixes(ctx: Ctx, t: Tracer): Unit = {
    val spark = ctx.spark
    val raw = Readers.ordersCsv(spark, conf.str("orders"))
    val typed = Normalize.castOrders(raw)
    val deduped = Dedup.keepFirstFileOrder(typed, Seq("order_source_id", "product_id"))
    val cleaned = Seq("name", "surname", "patronymic")
      .foldLeft(deduped)((df, c) => df.withColumn(c, CleanNames.clean(col(c))))
    val joined = Pipeline.joinFrames(cleaned,
      Pipeline.processedProducts(spark, conf.str("products")))
    val steps: Seq[(String, () => Unit)] = Seq(
      "scan" -> (() => noop(raw)),
      "normalize" -> (() => noop(typed)),
      "dedup" -> (() => noop(deduped)),
      "clean_names" -> (() => noop(cleaned)),
      "join" -> (() => noop(joined)),
      "sink" -> (() => Sink.overwriteTable(joined, conf.str("prefix_warehouse"), table)))
    var prev = 0.0
    steps.foreach { case (name, body) =>
      val t0 = System.nanoTime()
      t.span(s"etl.prefix.$name", "etl")(t.span("write", "exec")(body()))
      val s = (System.nanoTime() - t0) / 1e9
      ctx.layers.put(s"etl.${name}_s", s - prev)
      prev = s
    }
  }

  /** Facts of the committed table for the output check. */
  private def outputStats(spark: SparkSession): java.util.Map[String, Any] = {
    val dir = s"${conf.str("warehouse")}/bench/orders"
    val df = spark.read.parquet(dir)
    val nameKey = concat_ws("|", col("order_source_id").cast("string"),
      col("product_id").cast("string"), col("name"), col("surname"), col("patronymic"))
    val r = df.agg(count(lit(1)), sum("sum"),
      sum(when(col("price").isNull, 1).otherwise(0)),
      sum(conv(substring(md5(nameKey), 1, 8), 16, 10).cast("long"))).head()
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("rows", r.getLong(0))
    m.put("sum_total", r.getDouble(1))
    m.put("unmatched", r.getLong(2))
    m.put("name_hash", r.getLong(3))
    m.put("bytes", files.map(_.length).sum)
    m
  }
}
