package perfbench

import graft.SparkEntry
import graft.ops._

/** The two batch sweeps over the query registry.
  *
  * `analytics_sweep` runs registered queries whose name does not end
  * in `_probe`; `index_lifecycle` runs `_probe` queries, each of which
  * builds a persisted index and then merges, appends, tombstones,
  * compacts or accumulates it before probing. By default each runs
  * the fixed subset listed in [[Sweep.subsets]], so that a run fits
  * the benchmark's time budget; `--full 1` runs every query the suffix
  * rule selects. A query is timed from its construction,
  * `fn(spark, dir)`, which includes any eager driver jobs, to the end
  * of a parquet write of its result: the write computes every output
  * column, and it is the output that run.py then compares with the
  * query's DuckDB oracle. One query runs at a time, in alphabetical
  * order: in a fresh JVM the first query of a code path pays its
  * warm-up, and a fixed order makes that the same query on every run.
  * The seed varies the input data. */
final class Sweep(ctx: Ctx, workload: String) extends Workload {
  private val spark = ctx.spark
  private val dir = ctx.args("data")
  private val probes = workload == "index_lifecycle"
  private val moduleOf = Sweep.moduleOf

  val names: Seq[String] = {
    val all = SparkEntry.queries.keys.filter(_.endsWith("_probe") == probes).toSeq.sorted
    if (ctx.args.get("full").contains("1")) all
    else {
      val subset = Sweep.subsets(workload)
      val unknown = subset.filterNot(all.contains)
      require(unknown.isEmpty, s"$workload names unregistered queries: $unknown")
      subset.sorted
    }
  }

  /** Untimed warm-up: one query at the warm-up scale, which pays the
    * engine's first-query costs (class loading, codegen set-up). */
  def setUp(): Unit =
    SparkEntry.queries(Sweep.warmUpQuery)(spark, ctx.args("warm"))
      .write.mode("overwrite").parquet(s"${ctx.out}/warm")

  def measure(): Measured = {
    val sc = spark.sparkContext
    var countMs = 0.0
    val t0 = ctx.nowMs
    val ops = names.map { name =>
      val root = ctx.spans.newId()
      def phase[T](label: String)(f: => T): (T, Double, Double) = {
        val id = ctx.spans.newId()
        if (label == "construct") Sweep.constructSpans.add(s"span-$id")
        sc.setJobGroup(s"span-$id", s"$name $label", interruptOnCancel = false)
        val s = ctx.nowMs
        try {
          val v = f
          val e = ctx.nowMs
          if (ctx.trace) ctx.spans.add(Span(id, root, root, label, s, e))
          (v, s, e)
        } finally sc.clearJobGroup()
      }
      val start = ctx.nowMs
      try {
        val (df, _, c1) = phase("construct")(SparkEntry.queries(name)(spark, dir))
        val (_, _, e1) = phase("execute") {
          df.write.mode("overwrite").parquet(s"${ctx.out}/results/$name")
        }
        val counted = if (ctx.trace) {
          val (_, k0, k1) = phase("count")(df.count())
          countMs += k1 - k0
          Map("count_ms" -> (k1 - k0))
        } else Map.empty[String, Any]
        if (ctx.trace) ctx.spans.add(Span(root, 0, root, s"query $name", start, e1,
          Map("module" -> moduleOf(name))))
        Map[String, Any]("name" -> name, "module" -> moduleOf(name), "ok" -> true,
          "construct_ms" -> (c1 - start), "execute_ms" -> (e1 - c1),
          "latency_ms" -> (e1 - start)) ++ counted
      } catch {
        case e: Throwable =>
          Map[String, Any]("name" -> name, "module" -> moduleOf(name), "ok" -> false,
            "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
      }
    }
    val wallS = (ctx.nowMs - t0 - countMs) / 1000.0
    val ok = ops.filter(_("ok") == true)
    Measured(wallS, ok.map(_("latency_ms").asInstanceOf[Double]), ops.size,
      ops.filter(_("ok") == false).map(o => s"${o("name")}: ${o("error")}"), ops,
      Map("queries" -> ops.size, "count_ms_total" -> countMs))
  }

  def verify(): Seq[(String, Option[String])] = {
    val sql = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${ctx.out}/oracle_sql.json"), Json.value(sql))
    Nil
  }

  def layers(m: Measured): Seq[(String, Double)] =
    Sweep.modules.map(_._1).flatMap { mod =>
      val mine = m.ops.filter(o => o("module") == mod && o("ok") == true)
      Seq(s"$mod.construct_s" -> mine.map(_("construct_ms").asInstanceOf[Double]).sum / 1000,
        s"$mod.execute_s" -> mine.map(_("execute_ms").asInstanceOf[Double]).sum / 1000)
    }
}

object Sweep {
  /** The default query sets, sized so that a cold-JVM run fits the
    * benchmark's time budget: one query per operator module on
    * analytics_sweep; on index_lifecycle both cluster families at their
    * longest lifecycle (cumulative + tombstone) and a simhash index
    * merge. */
  val subsets: Map[String, Seq[String]] = Map(
    "analytics_sweep" -> Seq("feature_matrix_by_type", "revenue_rollup", "book_features",
      "interval_join_pivot", "zscore_normalize", "bucketed_join_agg", "corpus_pipeline",
      "embed_knn_label", "source_caps", "seq_packing", "media_chunks"),
    "index_lifecycle" -> Seq("embed_dedup_clusters_cumulative_tombstone_probe",
      "dedup_clusters_cumulative_tombstone_probe", "simhash_index_merge_probe"))

  /** Warm-up query of both sweeps: a plain scan, aggregate and write. */
  val warmUpQuery = "pricing_summary"

  /** The operator modules, named as the per-layer metrics name them. */
  val modules: Seq[(String, QueryModule)] = Seq(Indicators, Relational, Book, Joins,
    Normalize, ScaleOps, TextDedup, Similarity, Mixture, TrainingData, Multimodal)
    .map(m => m.getClass.getSimpleName.stripSuffix("$").toLowerCase -> m)

  val moduleOf: Map[String, String] = {
    val m = modules.flatMap { case (n, mod) => mod.queries.map(_._1 -> n) }.toMap
    SparkEntry.queries.keys.map(q => q -> m.getOrElse(q, "other")).toMap
  }

  private val constructSpans =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def isConstructGroup(g: String): Boolean = g != null && constructSpans.contains(g)
}
