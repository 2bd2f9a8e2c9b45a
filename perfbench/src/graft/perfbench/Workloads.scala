package graft.perfbench

import scala.collection.mutable
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{SparkEntry, Tables}
import graft.lime.{Lime, LimeMllib, SpLime}
import graft.operators.{EventOps, LimeOps, LlmData, Relational}

/** A reference result written at set-up: the oracle compares it with
  * DuckDB (when `oracle` names a registry query), and each timed run of
  * `name` must reproduce its digest.
  */
case class Ref(name: String, path: String, oracle: Option[String], digest: String)

/** What one timed operation produced, for its check. */
case class Outcome(units: Long, rows: Array[Row])

/** A closed-loop workload. `inputs` writes the inputs from the seed and
  * fits what the operations need; `warmup` runs each distinct operation
  * once; `run` is the timed operation and `check` its output check
  * (None = correct).
  */
abstract class Workload(val spark: SparkSession, val dir: String, val work: String,
                        val seed: Long, val trace: Trace) {
  def unit: String
  /** Operations per cycle; a run measures whole cycles. */
  def cycle: Int = 1
  def opName(i: Int): String
  def inputs(): Unit
  def warmup(): Unit
  /** Untimed preparation before operation i. */
  def prepare(i: Int): Unit = ()
  def run(i: Int): Outcome
  def check(i: Int, out: Outcome): Option[String]
  /** Untimed per-operation layer measurements of the traced run. */
  def probe(i: Int): Unit = ()
  /** End-of-run checks. */
  def finish(): Seq[String] = Nil
  /** Input table sizes in rows. */
  def inputSizes: Map[String, Long]
  /** Layer metrics from the probes (traced run only). */
  def layer: Map[String, Double] = Map.empty
  val refs = mutable.LinkedHashMap.empty[String, Ref]

  protected def df(rows: Array[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Writes `build()`'s result as the reference output for `name`; the
    * write is the warm-up run of that operation.
    */
  protected def reference(name: String, oracle: Option[String])(build: => DataFrame): Unit = {
    val path = s"$work/ref/$name"
    build.write.mode("overwrite").parquet(path)
    refs(name) = Ref(name, path, oracle, "")
  }

  /** Untimed, after the warm-up: digests the reference outputs as read
    * back, so each digest is of exactly what the oracle compares.
    */
  def sealRefs(): Unit = refs.keys.toSeq.foreach { name =>
    refs(name) = refs(name).copy(digest = Checks.digest(spark.read.parquet(refs(name).path).collect()))
  }

  protected def matches(name: String, rows: Array[Row]): Option[String] =
    if (Checks.digest(rows) == refs(name).digest) None
    else Some(s"$name differs from its reference output")

  /** Mean inclusive time of the spans called `name`. */
  protected def meanSpan(name: String): Double = {
    val sp = trace.spans.filter(_.name == name)
    sp.map(x => (x.end - x.start) / 1e9).sum / math.max(sp.size, 1)
  }

  protected def rows(table: String): Long = LlmData.parquetRowCount(spark, s"$dir/$table.parquet")

  /** Seeded permutation of 0 until n for cycle c. */
  protected def perm(n: Int, c: Int): Seq[Int] =
    new scala.util.Random(seed * 1000003L + c).shuffle((0 until n).toVector)
}

object Workloads {
  def apply(name: String, s: SparkSession, dir: String, work: String, seed: Long,
            t: Trace): Workload = name match {
    case "lime_batch" => new LimeBatch(s, dir, work, seed, t)
    case "curation" => new Curation(s, dir, work, seed, t)
    case "sql_mix" => new SqlMix(s, dir, work, seed, t)
    case "scale_rounds" => new ScaleRounds(s, dir, work, seed, t)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The paper's pipeline: explain a seed-chosen batch of lineitem rows
  * against an MLlib black box, then SP-LIME-pick B of them.
  */
final class LimeBatch(s: SparkSession, d: String, w: String, seed: Long, t: Trace)
    extends Workload(s, d, w, seed, t) {
  val batch = 100
  val samples = 5000
  val budget = 10
  // K below the 4 features, so explanations cover different feature
  // subsets and the SP-LIME coverage rounds have something to choose
  val k = 2
  val features = LimeOps.limeFeatures
  val cfg = Lime.LimeConfig(nSamples = samples, kFeatures = k)
  def unit = "instances"
  def opName(i: Int) = "explain_pick"

  private val schema = StructType(StructField("instance_id", LongType, nullable = false) +:
    features.map(StructField(_, DoubleType, nullable = false)))
  private var pool: Array[Row] = Array.empty
  private var score: DataFrame => DataFrame = identity
  private var firstDigest = ""
  private val stage = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var probes = 0

  def inputSizes = Map("lineitem" -> rows("lineitem"), "batch_instances" -> batch.toLong,
    "samples_per_instance" -> samples.toLong)

  def inputs(): Unit = {
    Gen.star(spark, dir, seed, Gen.Sizes(orders = 5000), Seq("lineitem"))
    val li = Tables.lineitem(spark, dir)
    // label: a seeded linear rule over the z-scored features plus noise
    val rnd = new scala.util.Random(seed)
    val coef = features.map(_ => rnd.nextGaussian())
    val z = Seq((col("l_quantity") - 25.5) / 14.4, (col("l_extendedprice") - 50450.0) / 28600.0,
      (col("l_discount") - 0.05) / 0.032, (col("l_tax") - 0.04) / 0.026)
    val noise = (pmod(xxhash64(lit(seed), col("l_orderkey"), col("l_linenumber")), lit(1000)) -
      499.5) / 500.0
    val labelled = li.withColumn("label",
      (coef.zip(z).map { case (c, e) => e * c }.reduce(_ + _) + noise > 0).cast("double"))
    val assembled = new VectorAssembler().setInputCols(features.toArray)
      .setOutputCol("features").transform(labelled)
    val model = new LogisticRegression().setElasticNetParam(1.0)
      .setRegParam(0.001).setMaxIter(10).fit(assembled)
    score = LimeMllib.scoreFn(model, features)
    pool = li.select((col("l_orderkey") * 8 + col("l_linenumber")).as("instance_id") +:
      features.map(col): _*).orderBy("instance_id").collect()
  }

  /** Two batches that are never measured: a measured batch must not find
    * the code generated for its own fitted bin edges already compiled.
    */
  def warmup(): Unit = Seq(-1, -2).foreach(run)

  private def instances(i: Int): Array[Row] = {
    val rnd = new scala.util.Random(seed * 7919L + i)
    Array.fill(batch)(pool(rnd.nextInt(pool.length))).distinctBy(_.getLong(0))
  }

  private def explain(inst: DataFrame): DataFrame =
    Lime.explainTabular(inst, "instance_id", features, cfg, Some(score))

  private var lastPick: Seq[(Int, Long, Double)] = Nil

  def run(i: Int): Outcome = {
    val inst = instances(i)
    val e = explain(df(inst, schema))
    val expl = trace.span("lime.explain")(e.collect())
    lastPick = trace.span("lime.splime")(SpLime.pick(df(expl, e.schema), budget))
    if (i == 0) firstDigest = Checks.digest(expl)
    Outcome(inst.length, expl)
  }

  def check(i: Int, out: Outcome): Option[String] =
    Checks.limeRows(out.rows, instances(i).map(_.getLong(0)).toSet, k).orElse(
      Checks.greedyPick(out.rows.map(r => (r.getLong(0), r.getString(2), r.getDouble(3))),
        lastPick.map(p => (p._2, p._3)), budget, tol = 1e-9))

  /** Stage times from materialized prefixes of one explanation: the
    * stats step (collect and driver-side fit, as the explain does it),
    * then perturb, then perturb+score (both through the noop sink, with
    * the columns the explain goes on to read), then the full explain
    * (collected), back to back on the same batch. fit_topk is the explain
    * less the other three. Each prefix runs once untimed first: its plan
    * inlines the batch's bin edges, so a first run also compiles fresh
    * code, while the explain's code is already compiled by the operation.
    * The compile cost shows in `exec.driver_idle_s` instead.
    */
  override def probe(i: Int): Unit = {
    val batchRows = instances(i)
    val inst = df(batchRows, schema)
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    def warm(f: => Unit): Double = { f; time(f) }
    var stats: Seq[Lime.FeatureStats] = Nil
    stage("stats") += warm { stats = graft.lime.ExplainStats(inst, features, cfg.nBins) }
    def sink(f: DataFrame): Unit = f.write.format("noop").mode("overwrite").save()
    val z = features.map(f => col(s"${f}__z"))
    stage("perturb") += warm(sink(Lime.perturb(inst, "instance_id", stats, cfg)
      .select(col("instance_id") +: (z ++ features.map(f => col(s"${f}__val"))): _*)))
    stage("perturb_score") += warm(sink(score(Lime.perturb(inst, "instance_id", stats, cfg))
      .select(col("instance_id") +: z :+ col("pred"): _*)))
    stage("explain") += time(explain(inst).collect())
    stage("rows") += batchRows.length.toDouble * samples
    probes += 1
  }

  override def layer: Map[String, Double] = {
    val n = math.max(probes, 1)
    Map(
      "lime.stats_s" -> stage("stats") / n,
      "lime.perturb_s" -> stage("perturb") / n,
      "lime.score_s" -> (stage("perturb_score") - stage("perturb")) / n,
      "lime.fit_topk_s" -> (stage("explain") - stage("stats") - stage("perturb_score")) / n,
      "lime.splime_s" -> meanSpan("lime.splime"),
      "lime.perturbed_rows" -> stage("rows") / n,
      "lime.rows_per_s" -> stage("rows") / math.max(stage("explain"), 1e-9))
  }

  /** Re-explains the first measured batch; the result must hash the same. */
  override def finish(): Seq[String] = {
    val again = Checks.digest(explain(df(instances(0), schema)).collect())
    if (again == firstDigest) Nil else Seq("re-explaining batch 0 gave a different result")
  }
}

/** The LLM-data curation pipeline on a seeded synthetic corpus: each
  * operation drops the shared pair-graph artifacts, then runs the dedup
  * verdict, multimodal clustering and mixture weights over rebuilt ones.
  */
final class Curation(s: SparkSession, d: String, w: String, seed: Long, t: Trace)
    extends Workload(s, d, w, seed, t) {
  val queries = Seq("q_dedup_apply", "q_dedup_multimodal", "q_mix_weights")
  def unit = "documents"
  def opName(i: Int) = "curate"
  private val span = Map("q_dedup_apply" -> "llm.apply",
    "q_dedup_multimodal" -> "llm.multimodal", "q_mix_weights" -> "llm.mix")
  private var pairCounts = (0L, 0L)
  private var docs = 0L
  private val out = mutable.Map.empty[String, Array[Row]]

  def inputSizes = Map("documents" -> rows("documents"), "embeddings" -> rows("embeddings"))

  def inputs(): Unit = Gen.corpus(spark, dir, seed, Gen.Sizes())

  def warmup(): Unit = {
    queries.foreach(q => reference(q, Some(q))(SparkEntry.queries(q)(spark, dir)))
    pairCounts = (LlmData.dedupPairs(spark, dir).count(), LlmData.embedPairs(spark, dir).count())
    docs = rows("documents")
  }

  override def prepare(i: Int): Unit = LlmData.clearDedupArtifacts()

  def run(i: Int): Outcome = {
    trace.span("llm.text_pairs")(LlmData.dedupPairs(spark, dir))
    trace.span("llm.embed_pairs")(LlmData.embedPairs(spark, dir))
    queries.foreach(q => out(q) = trace.span(span(q))(SparkEntry.queries(q)(spark, dir).collect()))
    Outcome(docs, Array.empty)
  }

  def check(i: Int, o: Outcome): Option[String] =
    queries.iterator.map(q => matches(q, out(q))).collectFirst { case Some(e) => e }

  override def layer: Map[String, Double] =
    Seq("text_pairs", "embed_pairs", "apply", "multimodal", "mix")
      .map(n => s"llm.${n}_s" -> meanSpan(s"llm.$n")).toMap ++
      Map("llm.text_pairs" -> pairCounts._1.toDouble, "llm.embed_pairs" -> pairCounts._2.toDouble)
}

/** Analyst traffic: oracle-backed TPC-H, event and window queries, one at
  * a time in a seeded order.
  */
final class SqlMix(s: SparkSession, d: String, w: String, seed: Long, t: Trace)
    extends Workload(s, d, w, seed, t) {
  val queries = Vector("q_tpch_q3", "q_tpch_q5", "q_tpch_q9", "q_tpch_q13", "q_tpch_q18",
    "q_tpch_q21", "q_ev_session", "q_ev_funnel", "q_ev_retention", "q_join_asof",
    "q_win_ntile_pctrank")
  def unit = "queries"
  override def cycle = queries.size
  def opName(i: Int) = queries(perm(queries.size, i / cycle)(i % cycle))

  def inputSizes = Seq("customer", "orders", "lineitem", "part", "supplier", "events")
    .map(t => t -> rows(t)).toMap

  def inputs(): Unit = Gen.star(spark, dir, seed, Gen.Sizes())

  def warmup(): Unit =
    queries.foreach(q => reference(q, Some(q))(SparkEntry.queries(q)(spark, dir)))

  def run(i: Int): Outcome = {
    val q = opName(i)
    val rows = trace.span(s"sql.$q") {
      val df = trace.span("sql.plan") {
        val df = SparkEntry.queries(q)(spark, dir)
        if (trace.enabled) df.queryExecution.executedPlan
        df
      }
      trace.span("sql.exec")(df.collect())
    }
    Outcome(1, rows)
  }

  def check(i: Int, o: Outcome): Option[String] = matches(opName(i), o.rows)

  override def layer: Map[String, Double] = {
    Map("sql.plan_s" -> meanSpan("sql.plan"), "sql.exec_s" -> meanSpan("sql.exec")) ++
      queries.map(q => s"sql.${q}_s" -> meanSpan(s"sql.$q"))
  }
}

/** The forced scale paths: every call that pushes an operator onto its
  * distributed branch below its size gate lives here, so a gate
  * configuration can replace these calls without changing what is
  * measured.
  */
object ScalePaths {
  /** (path, registry query whose oracle the forced output must equal,
    * forced build).
    */
  val all: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("pagerank", "q_graph_pagerank", (s, d) => EventOps.pagerankGated(s, d, edgeGate = 0)),
    ("splime", "sp_lime_pick", (s, d) => LimeOps.spLimePickGated(s, d, wGate = 0)),
    ("mmr", "q_sim_mmr", (s, d) => LlmData.qSimMmrScale(s, d)),
    ("rank", "q_win_ntile_pctrank",
      (s, d) => Relational.winNtilePctrankFrom(Tables.customer(s, d), scalePath = true)))
}

/** The iterative scale paths, forced onto their distributed round loops.
  * One operation runs every path once, in a seeded order.
  */
final class ScaleRounds(s: SparkSession, d: String, w: String, seed: Long, t: Trace)
    extends Workload(s, d, w, seed, t) {
  def unit = "operator_runs"
  def opName(i: Int) = "round"
  private val out = mutable.Map.empty[String, Array[Row]]

  def inputSizes = Seq("events", "embeddings", "customer", "lineitem")
    .map(t => t -> rows(t)).toMap

  // the loops cost per round and per job, not per row: small inputs
  private val sizes = Gen.Sizes(customer = 1000, orders = 2000, events = 2000, users = 100,
    embeddings = 400)

  def inputs(): Unit = {
    Gen.star(spark, dir, seed, sizes, Seq("customer", "lineitem", "events"))
    Gen.corpus(spark, dir, seed, sizes, withDocs = false)
  }

  // the forced output must equal the registry query's oracle result
  def warmup(): Unit = ScalePaths.all.foreach { case (name, query, build) =>
    reference(name, SparkEntry.oracleSql.get(query).map(_ => query))(build(spark, dir))
  }

  /** The forced SP-LIME path has no oracle: its pick is checked against the
    * greedy recomputation from its explanation matrix instead (B = 3, as
    * sp_lime_pick; gains rounded to 6 decimals). A failed check poisons the
    * reference digest, so every operation reports it.
    */
  override def sealRefs(): Unit = {
    super.sealRefs()
    val w = LimeOps.spLimeExplanations(spark, dir).select("instance_id", "feature", "weight")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val picks = spark.read.parquet(refs("splime").path).orderBy("round").collect()
      .map(r => (r.getAs[Long]("instance_id"), r.getAs[Double]("gain")))
    Checks.greedyPick(w.toSeq, picks.toSeq, b = 3, tol = 1e-6)
      .foreach(e => refs("splime") = refs("splime").copy(digest = e))
  }

  def run(i: Int): Outcome = {
    perm(ScalePaths.all.size, i).map(ScalePaths.all).foreach { case (name, _, build) =>
      out(name) = trace.span(s"scale.$name")(build(spark, dir).collect())
    }
    Outcome(ScalePaths.all.size, Array.empty)
  }

  def check(i: Int, o: Outcome): Option[String] =
    ScalePaths.all.iterator.map(p => matches(p._1, out(p._1))).collectFirst { case Some(e) => e }

  override def layer: Map[String, Double] =
    ScalePaths.all.map { case (n, _, _) => s"scale.${n}_s" -> meanSpan(s"scale.$n") }.toMap
}
