package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** A fixed set of registered queries (plus, on `suite_long`, the E1 entry
  * `DailySummary.run`), each pass in a seed-shuffled order. One operation
  * is one query materialized through the noop sink, as graft.Bench times
  * it; its output is checked on that same materialization. */
final class Suite(ctx: Ctx, names: Seq[String]) extends Workload {
  private val fns: Seq[(String, (SparkSession, String) => DataFrame)] = names.map { n =>
    n -> (if (n == Suite.Entry) graft.pipeline.DailySummary.run _ else graft.SparkEntry.queries(n))
  }

  override def ops(pass: Int): Seq[Op] = {
    // The seed is mixed first: java.util.Random's first draws from nearby
    // seeds are correlated, and would give nearby seeds the same order.
    val order = if (pass == 0) fns else new scala.util.Random(Fixtures.mix(ctx.o.seed * 7919 + pass)).shuffle(fns)
    order.map { case (n, fn) => Op(n, () => query(n, fn)) }
  }

  private def query(name: String, fn: (SparkSession, String) => DataFrame): Option[String] = {
    val df = ctx.span("operators.build")(fn(ctx.spark, ctx.o.dataDir))
    // Row count and an order-insensitive hash ride the materialization
    // itself (df.observe): no second scan. Positional renaming makes
    // duplicate output names addressable.
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val hashed = xxhash64(named.schema.fields.toSeq.map(f =>
      if (Suite.hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)): _*)
    val obs = Observation()
    ctx.span("spark.materialize")(named
      .observe(obs, count(lit(1)).as("rows"), sum(hashed.cast("decimal(38,0)")).as("hash"))
      .write.mode("overwrite").format("noop").save())
    val m = obs.get
    val rows = m("rows").asInstanceOf[Long]
    val hash = Option(m("hash")).fold("0")(_.toString)
    ctx.goldens.check(name, rows, hash)
  }
}

object Suite {
  val Entry = "e1_daily_summary"

  /** `suite_short`: registered queries whose quiet BENCH_FULL.json time is
    * under 1 s, a fixed subset that spans every query family. Wall time
    * here is driver planning, job scheduling and per-task overhead. */
  val Short: Seq[String] = Seq(
    "q02_agg_configs", "q10_semi_join", "q12_pivot_row_mean", "q14_topk_per_group",
    "q27_exact_dedup", "q46_dsv2_source", "q88_pq_encode", "q101_media_decode_values")

  /** `suite_long`: queries at 1 s or more, a fixed subset sized so that a
    * run holds two measured passes: the E1 entry, a streaming drain (q49)
    * and the IVF-PQ search, which encodes a persisted index and searches it
    * (q113). Task run time, shuffle, eager checkpoints and micro-batch
    * commits dominate. */
  val Long: Seq[String] = Seq(Entry, "q49_streaming_daily", "q113_ivfpq_search")

  def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
}
