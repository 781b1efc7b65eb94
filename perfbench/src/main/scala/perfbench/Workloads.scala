package perfbench

import java.nio.file.Path

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{AlgoOperator, Estimator, Model, Pipeline, Stage}
import graft.classification.{LogisticRegression, LogisticRegressionModel}
import graft.dedup.{ConnectedComponents, MinHashDeduplicator}
import graft.feature._
import graft.graph.{LabelPropagation, PageRank}
import graft.recommendation.Swing
import graft.text.ExactDeduplicator

/** What a workload needs: the session, where its inputs live, the seed
  * and size they are generated from, and the tracer for its spans. */
final case class Ctx(spark: SparkSession, dir: Path, seed: Long, size: Size, tr: Tracer)

/**
 * One workload: `prepare` generates the seeded inputs, writes them to
 * parquet and computes the reference; `pass` runs the workload's whole
 * job list the way a user would (public fit/transform/run calls, then
 * an action), checks the result against the reference and releases
 * what it persisted. A pass returns None when its output is correct.
 */
abstract class Workload(val ctx: Ctx) {
  def name: String
  /** Rows the inputs hold; the unit of `rows_per_s`. */
  def inputRows: Long
  def prepare(): Unit
  def pass(): Option[String]

  protected val spark: SparkSession = ctx.spark
  protected def tr: Tracer = ctx.tr
  protected def path(table: String): String = ctx.dir.resolve(table).toString
  protected def write(df: DataFrame, table: String): Unit =
    df.repartition(spark.sparkContext.defaultParallelism).write.mode("overwrite").parquet(path(table))
  protected def read(table: String): DataFrame = spark.read.parquet(path(table))

  protected def close(a: Double, b: Double, rel: Double): Boolean =
    math.abs(a - b) <= rel * math.max(1e-12, math.max(math.abs(a), math.abs(b)))

  /** The first mismatch between two id-keyed maps, if any. */
  protected def firstMismatch[V](what: String, got: Map[Long, V], want: Map[Long, V],
      same: (V, V) => Boolean): Option[String] =
    if (got.keySet != want.keySet)
      Some(s"$what: ${got.size} ids returned, ${want.size} expected")
    else want.collectFirst {
      case (id, w) if !same(got(id), w) => s"$what: id $id is ${got(id)}, expected $w"
    }
}

object Workload {
  val names: Seq[String] = Seq("graph_loops", "swing_recs", "ml_pipeline", "text_curate")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "graph_loops" => new GraphLoops(ctx)
    case "swing_recs"  => new SwingRecs(ctx)
    case "ml_pipeline" => new MlPipeline(ctx)
    case "text_curate" => new TextCurate(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }
}

/** PageRank, label propagation and both distributed connected-components
  * algorithms over one seeded link graph. */
final class GraphLoops(ctx: Ctx) extends Workload(ctx) {
  val name = "graph_loops"
  private val PageRankIter = 2
  private val LabelPropIter = 2
  private var g: Inputs.Graph = _
  private var wantRank: Map[Long, Double] = _
  private var wantLabels: Map[Long, Long] = _
  private var wantComponents: Map[Long, Long] = _

  def inputRows: Long = g.edges.length.toLong

  def prepare(): Unit = {
    import spark.implicits._
    g = Inputs.graph(ctx.seed, ctx.size)
    write(g.edges.toSeq.toDF("src", "dst"), "edges")
    wantRank = References.pageRank(g.edges, 0.85, PageRankIter)
    wantLabels = References.labelPropagation(g.edges, LabelPropIter)
    wantComponents = References.components(g.edges)
  }

  private def collectLongs(df: DataFrame): Map[Long, Long] = {
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    df.unpersist()
    m
  }

  def pass(): Option[String] = {
    val edges = read("edges")
    val rank = tr.span("graph.pagerank") {
      val df = PageRank.run(edges, numIter = PageRankIter)
      val m = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      df.unpersist()
      m
    }
    tr.note("graph.rounds", PageRank.lastIterations)
    val labels = tr.span("graph.label_prop") {
      collectLongs(LabelPropagation.run(edges, numIter = LabelPropIter))
    }
    tr.note("graph.rounds", LabelPropagation.lastIterations)
    val star = tr.span("dedup.cc_star") {
      collectLongs(ConnectedComponents.run(edges, driverEdgeLimit = 0L, algorithm = "star"))
    }
    tr.note("dedup.cc_rounds", ConnectedComponents.lastRounds)
    val minLabel = tr.span("dedup.cc_minlabel") {
      collectLongs(ConnectedComponents.run(edges, driverEdgeLimit = 0L, algorithm = "minlabel"))
    }
    tr.note("dedup.cc_rounds", ConnectedComponents.lastRounds)

    val mass = rank.values.sum
    if (math.abs(mass - 1.0) > 1e-9) return Some(s"pagerank: ranks sum to $mass, not 1")
    val cliqueMiss = g.cliques.iterator.flatMap(cl => cl.filter(v => !labels.get(v).contains(cl.min)))
    if (cliqueMiss.hasNext) return Some(s"label_prop: clique member ${cliqueMiss.next()} not labelled by its clique minimum")
    firstMismatch[Double]("pagerank", rank, wantRank, (a, b) => close(a, b, 1e-9))
      .orElse(firstMismatch[Long]("label_prop", labels, wantLabels, _ == _))
      .orElse(firstMismatch[Long]("cc_star", star, wantComponents, _ == _))
      .orElse(firstMismatch[Long]("cc_minlabel", minLabel, wantComponents, _ == _))
  }
}

/** Swing item-to-item recall on Zipf behaviours whose head items exceed
  * the purchaser cap, so the capped arrays path runs. */
final class SwingRecs(ctx: Ctx) extends Workload(ctx) {
  val name = "swing_recs"
  private val K = 10
  private val MinUserBehavior = 5
  private val MaxUserBehavior = 1000
  private val SwingSeed = 2024L
  private var behaviors: Array[(Long, Long)] = _
  private var want: Map[Long, Seq[(Long, Double)]] = _

  def inputRows: Long = behaviors.length.toLong

  def prepare(): Unit = {
    import spark.implicits._
    behaviors = Inputs.behaviors(ctx.seed, ctx.size)
    write(behaviors.toSeq.toDF("user", "item"), "behaviors")
    val scores = References.swing(behaviors, MinUserBehavior, MaxUserBehavior, ctx.size.swingCap,
      SwingSeed, alpha1 = 15, alpha2 = 0, beta = 0.3)
    want = scores.map { case (i, m) => i -> m.toSeq.sortBy { case (sim, s) => (-s, sim) } }
  }

  def pass(): Option[String] = {
    val rows = tr.span("recommendation.swing") {
      new Swing().setUserCol("user").setItemCol("item").setOutputCol("output")
        .setK(K).setMaxUserNumPerItem(ctx.size.swingCap)
        .setMinUserBehavior(MinUserBehavior).setMaxUserBehavior(MaxUserBehavior)
        .setSeed(SwingSeed)
        .transform(read("behaviors")).head
        .collect()
    }
    val got = rows.map { r =>
      r.getLong(0) -> r.getString(1).split(';').toSeq.map { e =>
        val Array(sim, score) = e.split(',')
        (sim.toLong, score.toDouble)
      }
    }.toMap
    if (got.keySet != want.keySet)
      return Some(s"swing: ${got.size} items returned, ${want.size} expected")
    want.collectFirst(Function.unlift { case (item, all) =>
      val top = got(item)
      val expected = all.take(K)
      val byId = all.toMap
      if (top.length != expected.length) Some(s"swing: item $item has ${top.length} sims, expected ${expected.length}")
      else top.zip(expected).collectFirst {
        // scores are sums of doubles in another order: compare with a
        // tolerance, both the score of each returned sim and the
        // ranking (position by position), so near ties cannot fail
        case ((sim, s), (_, e)) if !byId.get(sim).exists(close(_, s, 1e-9)) || !close(s, e, 1e-9) =>
          s"swing: item $item sim $sim scored $s, expected ${byId.getOrElse(sim, "none")} (rank score $e)"
      }
    })
  }
}

/** StringIndexer → OneHotEncoder → VectorAssembler → StandardScaler →
  * LogisticRegression fitted as one Pipeline, then the fitted
  * PipelineModel scores a larger batch. */
final class MlPipeline(ctx: Ctx) extends Workload(ctx) {
  val name = "ml_pipeline"
  private val Rounds = 10
  private val LearningRate = 0.5
  private var train: Array[Inputs.MlRow] = _
  private var score: Array[Inputs.MlRow] = _
  private var wantCoef: Array[Double] = _
  private var wantProbSum = 0.0
  private var wantPositives = 0L
  private var borderline = 0L

  def inputRows: Long = (train.length + score.length).toLong
  def scoreRows: Long = score.length.toLong

  def prepare(): Unit = {
    import spark.implicits._
    train = Inputs.mlRows(ctx.seed, ctx.size.mlTrainRows, 0x747261696eL)
    score = Inputs.mlRows(ctx.seed, ctx.size.mlScoreRows, 0x73636f7265L)
    write(train.toSeq.toDF(), "train")
    write(score.toSeq.toDF(), "score")
    val features = new References.Features(train)
    wantCoef = References.logisticRegression(train.map(features(_)), train.map(_.label),
      LearningRate, Rounds)
    val dots = score.map(r => References.dot(features(r), wantCoef))
    wantProbSum = dots.map(d => 1.0 - 1.0 / (1.0 + math.exp(d))).sum
    wantPositives = dots.count(_ >= 0).toLong
    borderline = dots.count(d => math.abs(d) < 1e-9).toLong
  }

  /** The pipeline's stages, each wrapped so its fit (or, for the
    * assembler, its plan building during fit) is a span. Outside a
    * traced pass the wrappers only forward the call. */
  private def stages(): Seq[Stage[_]] = {
    def fit[M <: Model[M]](n: String, e: Estimator[_, M]): Stage[_] =
      new TimedEstimator(e, s"api.fit.$n", tr)
    def plan(n: String, a: AlgoOperator[_]): Stage[_] =
      new TimedTransformer(a, s"api.fit.$n", tr)
    Seq(
      fit("string_indexer", new StringIndexer().setInputCols("cat1", "cat2")
        .setOutputCols("cat1_idx", "cat2_idx").setStringOrderType(StringOrderType.ALPHABET_ASC)),
      fit("one_hot_encoder", new OneHotEncoder().setInputCols("cat1_idx", "cat2_idx")
        .setOutputCols("cat1_vec", "cat2_vec")),
      plan("vector_assembler", new VectorAssembler()
        .setInputCols("cat1_vec", "cat2_vec", "x1", "x2", "x3", "x4")
        .setInputSizes(categories(_.cat1) - 1, categories(_.cat2) - 1, 1, 1, 1, 1)
        .setOutputCol("raw")),
      fit("standard_scaler", new StandardScaler().setInputCol("raw").setOutputCol("features")),
      fit("logistic_regression", new LogisticRegression().setFeaturesCol("features")
        .setLabelCol("label").setMaxIter(Rounds).setLearningRate(LearningRate).setTol(0.0)
        .setGlobalBatchSize(1 << 30))) // larger than the input: full-batch steps
  }

  private def categories(f: Inputs.MlRow => String): Int = train.iterator.map(f).toSet.size

  def pass(): Option[String] = {
    val model = tr.span("api.fit") { new Pipeline(stages()).fit(read("train")) }
    val scored = tr.span("api.transform", planOnly = true) { model.transform(read("score")).head }
    val agg = tr.span("api.score") {
      scored.agg(count(lit(1)), sum(col("prediction")),
        sum(org.apache.spark.ml.functions.vector_to_array(col("rawPrediction")).getItem(1))).head()
    }
    val lr = model.stages.last.asInstanceOf[LogisticRegressionModel]
    val coef = lr.getModelData.head.select("coefficient").head().getAs[Vector](0).toArray
    if (coef.length != wantCoef.length)
      return Some(s"logreg: ${coef.length} coefficients, expected ${wantCoef.length}")
    val bad = coef.indices.find(j => !close(coef(j), wantCoef(j), 1e-7))
    if (bad.isDefined) {
      val j = bad.get
      return Some(s"logreg: coefficient $j is ${coef(j)}, full-batch replay gives ${wantCoef(j)}")
    }
    val (n, positives, probSum) = (agg.getLong(0), agg.getDouble(1).toLong, agg.getDouble(2))
    if (n != score.length) Some(s"score: $n rows scored, expected ${score.length}")
    else if (math.abs(positives - wantPositives) > borderline)
      Some(s"score: $positives positive predictions, expected $wantPositives")
    else if (!close(probSum, wantProbSum, 1e-7))
      Some(s"score: probabilities sum to $probSum, expected $wantProbSum")
    else None
  }
}

/** Times an estimator's fit as a span; the fitted model is returned as is. */
final class TimedEstimator[M <: Model[M]](inner: Estimator[_, M], spanName: String,
    @transient tr: Tracer) extends Estimator[TimedEstimator[M], M] {
  override def fit(inputs: DataFrame*): M = tr.span(spanName)(inner.fit(inputs: _*))
}

/** Times a transformer called while its pipeline fits. The call only
  * builds a plan, so the span is marked plan-only; when the fitted
  * model scores, the wrapper is transparent. */
final class TimedTransformer(inner: AlgoOperator[_], spanName: String, @transient tr: Tracer)
    extends AlgoOperator[TimedTransformer] {
  override def transform(inputs: DataFrame*): Array[DataFrame] =
    if (tr.inside("api.fit")) tr.span(spanName, planOnly = true)(inner.transform(inputs: _*))
    else inner.transform(inputs: _*)
}

/** Curation of a corpus with planted duplicates: exact dedup, then
  * tokenise → word 3-grams → hashed term vectors → MinHash-LSH dedup. */
final class TextCurate(ctx: Ctx) extends Workload(ctx) {
  val name = "text_curate"
  private var corpus: Inputs.Corpus = _

  def inputRows: Long = corpus.docs.length.toLong

  def prepare(): Unit = {
    import spark.implicits._
    corpus = Inputs.corpus(ctx.seed, ctx.size)
    write(corpus.docs.toSeq.toDF("doc_id", "text", "source"), "docs")
  }

  def pass(): Option[String] = {
    val docs = read("docs")
    val exact = tr.span("text.exact_dedup", planOnly = true) {
      new ExactDeduplicator().setInputCol("text").setIdCol("doc_id").transform(docs).head
    }
    val kept = exact.where(!col("is_exact_duplicate"))
    val tokens = tr.span("feature.tokenizer", planOnly = true) {
      new RegexTokenizer().setInputCol("text").setOutputCol("tokens").setPattern("\\W+")
        .transform(kept).head
    }
    val grams = tr.span("feature.ngram", planOnly = true) {
      new NGram().setInputCol("tokens").setOutputCol("shingles").setN(3).transform(tokens).head
    }
    val vectors = tr.span("feature.hashing_tf", planOnly = true) {
      new HashingTF().setInputCol("shingles").setOutputCol("tf").setBinary(true)
        .transform(grams).head.select("doc_id", "tf")
    }
    val near = tr.span("dedup.minhash") {
      new MinHashDeduplicator().setIdCol("doc_id").setInputCol("tf")
        .setSeed(2022L).setNumHashTables(20).setThreshold(0.6)
        .transform(vectors).head
        .where(col("is_duplicate")).select("doc_id").collect().map(_.getLong(0))
    }
    val exactIds = tr.span("text.exact_flags") {
      exact.where(col("is_exact_duplicate")).select("doc_id").collect().map(_.getLong(0))
    }
    // member 3 must fall to the exact pass and member 4 to the MinHash
    // pass; together they are every planted duplicate and nothing else
    def check(what: String, got: Array[Long], member: Long): Option[String] = {
      val want = corpus.planted.filter(_ % 5 == member)
      val missed = want -- got
      val wrong = got.toSet -- want
      if (missed.nonEmpty) Some(s"text: $what missed ${missed.size} planted duplicates, e.g. ${missed.min}")
      else if (wrong.nonEmpty) Some(s"text: $what flagged ${wrong.size} other documents, e.g. ${wrong.min}")
      else if (got.length != want.size) Some(s"text: $what flagged a document twice")
      else None
    }
    check("exact dedup", exactIds, 3).orElse(check("minhash dedup", near, 4))
  }
}
