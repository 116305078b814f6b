package perfbench

import scala.collection.mutable

/** The per-layer metrics of the traced run: counters per span name, summed
  * over the calls of one pass, then the median over the traced passes. A
  * layer a workload does not call reads 0.
  */
object Layers {
  val SpanNames: Seq[String] = Seq(
    "config.parse",
    "medallion.bronze_ingest", "medallion.silver_load", "medallion.gold_dim_date",
    "medallion.gold_dim_scd2", "medallion.gold_fact", "medallion.summarize",
    "operators.incremental_pickup", "operators.upsert_merge_write", "operators.curation_filter",
    "operators.textdedup_dedup_corpus", "operators.textdedup_contamination_bloom",
    "operators.classifier_train", "operators.classifier_score", "operators.sampling_capped_mix")

  /** Spans that do most of the work get the detailed counters. */
  val Heavy: Seq[String] = Seq(
    "medallion.bronze_ingest", "medallion.silver_load", "medallion.gold_dim_scd2",
    "medallion.gold_fact", "operators.upsert_merge_write", "operators.curation_filter",
    "operators.textdedup_dedup_corpus", "operators.textdedup_contamination_bloom",
    "operators.classifier_train")

  private val MB = 1048576.0

  private val perSpan: Seq[(String, String, Counters => Double)] = Seq(
    ("task_s", "s", _.taskMs / 1e3), ("jobs", "count", _.jobs.toDouble),
    ("shuffle_write_mb", "MB", _.shuffleWriteBytes / MB))
  private val perHeavy: Seq[(String, String, Counters => Double)] = Seq(
    ("tasks", "count", _.tasks.toDouble), ("task_wait_s", "s", _.taskWaitMs / 1e3),
    ("spill_mb", "MB", _.spillBytes / MB))

  /** Every per-layer metric name with its unit, in report order. */
  val names: Seq[(String, String)] =
    SpanNames.flatMap(s => (s"$s.wall_s", "s") +: perSpan.map { case (n, u, _) => (s"$s.$n", u) }) ++
      Heavy.flatMap { s =>
        perHeavy.map { case (n, u, _) => (s"$s.$n", u) } ++
          (if (s == "operators.textdedup_contamination_bloom") Nil else Seq((s"$s.output_mb", "MB")))
      } ++ Seq(
        "operators.textdedup_dedup_corpus.verified_per_candidate" -> "ratio",
        "operators.textdedup_contamination_bloom.match_per_bloom_pass" -> "ratio",
        "failed_tasks" -> "count", "core.cache.leaked_rdds" -> "count",
        "core.codegen.compiles" -> "count", "failed_ratio" -> "ratio",
        "trace.pass_s_p50" -> "s", "trace.overhead_s" -> "s",
        "trace.layer_self_s" -> "s", "trace.glue_s" -> "s")

  /** Each traced pass with the mean wall time of the untraced passes on
    * either side of it. Pass times still fall from pass to pass, so this is
    * the untraced time to set a traced pass against.
    */
  def untracedAround(samples: Seq[Main.Sample]): Seq[(Main.Sample, Double)] = {
    val byK = samples.map(x => x.k -> x).toMap
    samples.filter(_.traced).flatMap { t =>
      for (a <- byK.get(t.k - 1) if !a.traced; b <- byK.get(t.k + 1) if !b.traced)
        yield t -> (a.wallS + b.wallS) / 2
    }
  }

  def metrics(spans: Seq[Span], counters: Map[Int, Counters], samples: Seq[Main.Sample],
      leaked: Seq[Int], traced: Map[String, Double],
      failedRatio: Double): mutable.LinkedHashMap[String, (Double, String)] = {
    val self = Tracer.selfSeconds(spans)
    val passes = samples.filter(_.traced).map(_.k)
    val byPass = spans.groupBy(_.pass)
    def c(ids: Seq[Int]): Counters = {
      val t = new Counters
      ids.flatMap(counters.get).foreach { x =>
        t.jobs += x.jobs; t.tasks += x.tasks; t.failedTasks += x.failedTasks; t.taskMs += x.taskMs
        t.taskWaitMs += x.taskWaitMs; t.shuffleWriteBytes += x.shuffleWriteBytes
        t.spillBytes += x.spillBytes; t.outputBytes += x.outputBytes
      }
      t
    }
    def med(f: Seq[Span] => Double): Double =
      if (passes.isEmpty) 0.0 else Stats.median(passes.map(k => f(byPass.getOrElse(k, Nil))))
    def named(n: String)(ps: Seq[Span]) = ps.filter(_.name == n)

    val v = mutable.Map.empty[String, Double]
    for (s <- SpanNames) {
      v(s"$s.wall_s") = med(ps => named(s)(ps).map(_.seconds).sum)
      for ((n, _, f) <- perSpan) v(s"$s.$n") = med(ps => f(c(named(s)(ps).map(_.id))))
    }
    for (s <- Heavy) {
      for ((n, _, f) <- perHeavy) v(s"$s.$n") = med(ps => f(c(named(s)(ps).map(_.id))))
      v(s"$s.output_mb") = med(ps => c(named(s)(ps).map(_.id)).outputBytes / MB)
    }
    v ++= traced
    v("failed_tasks") = med(ps => c(ps.map(_.id)).failedTasks.toDouble)
    v("core.cache.leaked_rdds") = if (leaked.isEmpty) 0.0 else leaked.max.toDouble
    val tracedCompiles = samples.filter(_.traced).map(_.compiles.toDouble)
    v("core.codegen.compiles") = if (tracedCompiles.isEmpty) 0.0 else Stats.median(tracedCompiles)
    v("failed_ratio") = failedRatio
    val tracedWall = samples.filter(_.traced).map(_.wallS)
    val untracedWall = samples.filterNot(_.traced).map(_.wallS)
    val tp50 = if (tracedWall.isEmpty) 0.0 else Stats.median(tracedWall)
    v("trace.pass_s_p50") = tp50
    val paired = untracedAround(samples).map { case (t, ref) => t.wallS - ref }
    v("trace.overhead_s") =
      if (paired.nonEmpty) Stats.median(paired)
      else if (untracedWall.isEmpty) 0.0
      else tp50 - Stats.median(untracedWall)
    v("trace.layer_self_s") = med(ps => ps.filter(_.parent >= 0).map(s => self(s.id)).sum)
    v("trace.glue_s") = med(ps => ps.filter(_.parent < 0).map(s => self(s.id)).sum)
    mutable.LinkedHashMap.from(names.map { case (n, u) => n -> (v.getOrElse(n, 0.0), u) })
  }
}
