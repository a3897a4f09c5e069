package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** query_mix: one client runs a fixed list of registered read-only queries
  * (`SparkEntry.registry`) over the generated corpus tables (one directory
  * per query class, `tables/<class>`), in a closed loop. Every timed run
  * executes the full plan into the noop sink (as `graft.Bench` does).
  * Pass one is each query's first run in the warmed session. Pass two,
  * untimed, writes each result as parquet for the oracle gate and is the
  * JIT's ramp-up. Later passes run until the measuring window is used up,
  * with at least `minWarm` warm passes. */
object QueryMix {
  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val plan = Json.read(s"${ctx.work}/query_plan.json")
    val classOf = plan.get("classes").fields().asScala.toSeq
      .flatMap(e => e.getValue.elements().asScala.map(_.asText -> e.getKey)).toMap
    val names = plan.get("classes").elements().asScala.flatMap(_.elements().asScala.map(_.asText)).toSeq
    val minWarm = plan.get("min_warm_passes").asInt
    def tables(name: String) = s"${ctx.work}/tables/${classOf(name)}"
    val registry = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"not in the registry: ${missing.mkString(", ")}")

    // session warm-up, repeated: codegen, the parquet reader and the
    // executor pool are ready before any listed query runs
    val setup = (1 to ctx.setupReps).map { _ =>
      val t0 = System.nanoTime()
      graft.Tables.lineitem(spark, s"${ctx.work}/tables/short").groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")), countDistinct(col("l_orderkey")))
        .write.format("noop").mode("overwrite").save()
      graft.Tables.events(spark, s"${ctx.work}/tables/short").where(col("value") > 1.0)
        .groupBy(col("user_id")).count().collect()
      Main.secondsSince(t0)
    }

    def once(name: String, tag: String)(write: org.apache.spark.sql.DataFrame => Unit): Map[String, Any] = {
      ctx.obs.begin(tag)
      val t0 = System.nanoTime()
      // building the DataFrame analyzes the query eagerly, outside the
      // write command whose tracker phases the listener reports
      val buildNs = ctx.tracer.span(s"query.$name") {
        val df = ctx.tracer.span("query.build") { registry(name).fn(spark, tables(name)) }
        val built = System.nanoTime() - t0
        ctx.tracer.span("query.execute") { write(df) }
        built
      }
      val wall = Main.secondsSince(t0)
      val (ts, ph) = ctx.obs.collect(tag)
      Map("wall_s" -> wall, "build_ms" -> buildNs / 1e6) ++
        (if (ctx.traced) Observer.summary(ts, ph) else Map.empty)
    }

    def noop(df: org.apache.spark.sql.DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val first = names.map(n => n -> once(n, s"first:$n")(noop)).toMap
    names.foreach { n =>
      registry(n).fn(spark, tables(n)).write.mode("overwrite").parquet(s"${ctx.work}/results/$n")
    }
    val warm = names.map(n => n -> Vector.newBuilder[Map[String, Any]]).toMap
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < minWarm || Main.secondsSince(t0) < ctx.seconds) {
      passes += 1
      names.foreach { n =>
        warm(n) += once(n, s"warm:$n:$passes")(noop)
      }
    }
    Map("setup_s" -> setup, "passes" -> passes,
      "oracle_sql" -> names.map(n => n -> registry(n).oracle).toMap,
      "queries" -> names.map(n => n -> Map("first" -> first(n), "warm" -> warm(n).result())).toMap)
  }
}
