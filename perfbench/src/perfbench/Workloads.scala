package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import graft.Endpoints
import graft.operators._
import graft.sources.{Sinks, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Workloads {
  def apply(name: String, data: String, batchData: String, out: String,
            expected: String => Expected): Workload = name match {
    case "analyst" =>
      val batch = new Batch(batchData, out)
      batch.expected = expected("batch")
      new Analyst(data, out, batch)
    case "rec_serve" => new RecServe(data, out)
    case "batch" => new Batch(data, out)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  // the value domains of perfbench/streams.py, enumerated by `record`
  val Periods: Seq[Option[Int]] = Seq(Some(30), Some(90), Some(180),
    Some(365), None)
  val MinSupports = Seq(0.002, 0.005, 0.01, 0.02)
  val MaxResults = Seq(50, 200)
  val MatchPool = 200
  val Quarters = Seq("Q1", "Q2", "Q3", "Q4")
  val AsOf: Seq[String] = for (y <- 1997 to 1999; m <- 1 to 12)
    yield f"$y-$m%02d-01"
  val Through = Seq("1999-03-31", "1999-06-30", "1999-09-30", "1999-12-31",
    "2000-03-31", "2000-06-30", "2000-09-30", "2000-12-31")
  /** Segments cover the two years before their as-of date, differential
    * tests the four years up to its through date, so every request of a
    * kind reads the same volume of the uniform tables. */
  val SegmentYears = 2
  val DifferentialYears = 4

  /** Rows with `day` in (end - years, end]. */
  def yearsUpTo(df: DataFrame, day: Column, end: String, years: Int) = {
    val e = java.time.LocalDate.parse(end)
    df.where(day > lit(java.sql.Date.valueOf(e.minusYears(years))) &&
      day <= lit(java.sql.Date.valueOf(e)))
  }
  val Alphas = Seq(0.3, 0.5, 0.7)
  val TokenBudgets = Seq(2000L, 5000L, 20000L)
  val SeqLens = Seq(256L, 512L, 1024L)

  def periodKey(p: Option[Int]): String = p.map(_.toString).getOrElse("all")
}

import Workloads._

/** Short read-mostly dashboard requests over sf0.1 line items. Its traced
  * run also measures one round of `batch`'s offline jobs (the header's
  * `offline` requests) and isolates their operators, so the `graft.ml`
  * and curation layers are measured on a workload the benchmark runs. */
final class Analyst(data: String, out: String, batch: Batch)
    extends Workload {
  val name = "analyst"
  val roundSize = 10
  val roundSeconds = 10.0
  private var li: DataFrame = _
  private var segTx: DataFrame = _
  private var custTx: DataFrame = _
  private var storedRules: DataFrame = _

  def load(spark: SparkSession): Unit = {
    val t = Tables(spark, data)
    li = t.lineitem
    val orders = t.orders
    segTx = orders.select(col("o_custkey"), col("o_orderkey"),
      col("o_totalprice"), col("o_orderdate").cast("date").as("day"))
    custTx = li.select(col("l_orderkey"), col("l_partkey"))
      .join(orders.select(col("o_orderkey").as("l_orderkey"),
        col("o_custkey")), Seq("l_orderkey"))
    // the stored rule table the customer-detail page matches against
    storedRules = t.table("rules")
  }

  private def rules(p: Option[Int], minSupport: Double, max: Int) =
    Endpoints.associationRules(li, "l_orderkey", "l_partkey", p,
      col("l_shipdate"), minSupport, 0.0, max)

  private def arKey(p: Option[Int], s: Double, m: Int) =
    s"associationRules|period=${periodKey(p)}|min_support=$s|max=$m"

  override def offline(
      spark: SparkSession): Option[(Workload, Seq[JsonNode])] = {
    batch.load(spark)
    val reqs = Seq.newBuilder[JsonNode]
    header.get("offline").elements().forEachRemaining(r => reqs += r)
    Some((batch, reqs.result()))
  }

  def run(req: JsonNode, ctx: OpCtx): Served = req.get("op").asText() match {
    case "associationRules" =>
      val p = Json.optInt(req.get("period"))
      val s = req.get("min_support").asDouble()
      val m = req.get("max_results").asInt()
      val df = ctx.build("associationRules")(rules(p, s, m))
      val got = ctx.action("associationRules")(df.collect())
      Served(1, () => expected.check(arKey(p, s, m), Checksum.rows(got)))
    case "regenerateSegments" =>
      val asOf = req.get("as_of").asText()
      val path = s"$out/segments"
      val seg = ctx.build("regenerateSegments")(
        Endpoints.regenerateSegments(segSlice(asOf), "o_custkey",
          "o_orderkey", "o_totalprice", "day", None))
      ctx.action("regenerateSegments")(Sinks.overwrite(seg, path))
      Served(1, () => expected.check(s"regenerateSegments|as_of=$asOf",
        Checksum.rows(ctx.spark.read.parquet(path))))
    case "differentialQuarters" =>
      val (q1, q2) = (req.get("q1").asText(), req.get("q2").asText())
      val through = req.get("through").asText()
      val df = ctx.build("differentialQuarters")(
        differential(q1, q2, through))
      val got = ctx.action("differentialQuarters")(df.collect())
      Served(1, () => expected.check(diffKey(q1, q2, through),
        Checksum.rows(got)))
    case "matchedRules" =>
      val users = Json.longs(req.get("users"))
      val df = ctx.build("matchedRules")(matched(users))
      val got = ctx.action("matchedRules")(df.collect())
      Served(1, () => checkMatches(users, got))
  }

  private def segSlice(asOf: String) =
    yearsUpTo(segTx, col("day"), asOf, SegmentYears)

  private def differential(q1: String, q2: String, through: String) =
    Endpoints.differentialQuarters(
      yearsUpTo(li, col("l_shipdate").cast("date"), through,
        DifferentialYears),
      col("l_shipdate").cast("date"), col("l_orderkey"),
      col("l_extendedprice"), q1, q2)

  private def diffKey(q1: String, q2: String, through: String) =
    s"differentialQuarters|$q1|$q2|through=$through"

  private def matched(users: Seq[Long]) =
    Endpoints.matchedRules(custTx.where(col("o_custkey").isin(users: _*)),
      "o_custkey", "l_partkey", storedRules)

  private def checkMatches(users: Seq[Long],
                           got: Array[Row]): Option[String] = {
    val byUser = got.groupBy(_.getAs[Long]("u"))
    val stray = byUser.keySet -- users
    if (stray.nonEmpty) return Some(s"matchedRules: rows for $stray")
    users.iterator.flatMap(u => expected.check(
      s"matchedRules|u=$u",
      Checksum.rows(byUser.getOrElse(u, Array.empty[Row]).toSeq)))
      .nextOption()
  }

  def record(spark: SparkSession): Unit = {
    for (p <- Periods; s <- MinSupports; m <- MaxResults)
      expected.check(arKey(p, s, m), Checksum.rows(rules(p, s, m)))
    AsOf.foreach { d =>
      expected.check(s"regenerateSegments|as_of=$d", Checksum.rows(
        Endpoints.regenerateSegments(segSlice(d), "o_custkey", "o_orderkey",
          "o_totalprice", "day", None)))
    }
    for (q1 <- Quarters; q2 <- Quarters if q1 != q2; t <- Through)
      expected.check(diffKey(q1, q2, t),
        Checksum.rows(differential(q1, q2, t)))
    val stride = math.max(header.get("households").asLong() / MatchPool, 1L)
    val pool = (0 until MatchPool).map(_ * stride)
    checkMatches(pool, matched(pool).collect())
  }

  def layerMetrics(spark: SparkSession, iso: Isolated): Map[String, Double] = {
    val seg = iso.input(segSlice(AsOf.last))
    iso.time("Rfm.scores")(Rfm.scores(seg, "o_custkey", "o_orderkey",
      "o_totalprice", "day"))
    val lines = iso.input(li.select(col("l_orderkey"), col("l_partkey"),
      col("l_shipdate"), col("l_extendedprice")))
    iso.time("Differential.compareQuarters")(Differential.compareQuarters(
      lines, col("l_shipdate").cast("date"), col("l_orderkey"),
      col("l_extendedprice"), "Q1", "Q3"))
    iso.time("AssociationRules.rulesRaw")(AssociationRules.rulesRaw(lines,
      "l_orderkey", "l_partkey", AssociationRules.Params(0.0, 0.0, 200)))
    val sets = iso.input(custTx.groupBy(col("o_custkey").as("u"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("items")))
    val rf = iso.input(storedRules)
    iso.time("Collab.matchingRules")(Collab.matchingRules(sets, rf))
    batch.layerMetrics(spark, iso)
  }
}

/** Batches of households served through the recommendation cache. */
final class RecServe(data: String, out: String) extends Workload {
  val name = "rec_serve"
  val roundSize = 8
  val roundSeconds = 20.0
  val TopN = 10
  private var tx: DataFrame = _
  private var gen = 0
  private val payloads = mutable.Map[Long, String]()
  private var lastInput: (DataFrame, String, Int) = _
  /** Per operation id: the program's `recalculate` decision for each
    * household, in request order. */
  private val decided = mutable.Map[Int, Seq[Boolean]]()
  val cacheSchema = StructType(Seq(StructField("household", LongType),
    StructField("alpha", DoubleType), StructField("rules_version", DateType),
    StructField("payload", StringType)))

  private def cachePath(g: Int) = s"$out/rec_cache/gen-$g"
  private def version(v: Int) =
    java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(v))

  def load(spark: SparkSession): Unit = {
    val t = Tables(spark, data)
    tx = t.lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(t.orders.select(col("o_orderkey").as("l_orderkey"),
        col("o_custkey")), Seq("l_orderkey"))
    // the seeded cache rows become generation 0 of the parquet cache
    val rows = mutable.ArrayBuffer[Row]()
    payloads.clear()
    header.get("cache").elements().forEachRemaining { c =>
      rows += Row(c.get(0).asLong(), c.get(1).asDouble(),
        version(c.get(2).asInt()), c.get(3).asText())
      payloads(c.get(0).asLong()) = c.get(3).asText()
    }
    Fs.deleteTree(s"$out/rec_cache")
    gen = 0
    Sinks.overwrite(spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), cacheSchema),
      cachePath(0))
  }

  private def requests(spark: SparkSession, hs: Seq[Long], alpha: Double,
                       explicit: Seq[Boolean]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      hs.zip(explicit).map { case (h, e) => Row(h, alpha, e) }, 1),
      StructType(Seq(StructField("household", LongType),
        StructField("alpha", DoubleType),
        StructField("alpha_explicit", BooleanType))))

  private def latest(spark: SparkSession, v: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(version(v))), 1),
      StructType(Seq(StructField("latest_version", DateType))))

  private def serve(req: JsonNode, ctx: OpCtx, from: String,
                    to: String): Array[Row] = {
    val spark = ctx.spark
    val hs = Json.longs(req.get("households"))
    val alpha = req.get("alpha").asDouble()
    val v = if (req.has("version")) req.get("version").asInt() else 0
    val fn = "cachedHybridRecommendations"
    val refreshed = ctx.build(fn) {
      val r = requests(spark, hs, alpha, Json.bools(req.get("explicit")))
      lastInput = (r, from, v)
      Endpoints.cachedHybridRecommendations(tx, "o_custkey", "l_partkey",
        "l_orderkey", r, spark.read.parquet(from), latest(spark, v), alpha,
        TopN)
    }
    ctx.action(fn) {
      Sinks.overwrite(refreshed, to)
      spark.read.parquet(to).where(col("household").isin(hs: _*)).collect()
    }
  }

  override def warm(req: JsonNode, ctx: OpCtx): Served = {
    serve(req, ctx, cachePath(gen), s"$out/rec_cache/warm")
    Served(0, () => None)
  }

  def run(req: JsonNode, ctx: OpCtx): Served = {
    val got = serve(req, ctx, cachePath(gen), cachePath(gen + 1))
    val input = lastInput
    gen += 1
    // generations older than the previous one are no longer read
    Fs.deleteTree(cachePath(gen - 2))
    val hs = Json.longs(req.get("households"))
    Served(hs.size, () => {
      decided(ctx.opId) = decisions(ctx.spark, hs, input)
      check(req, hs, got, decided(ctx.opId))
    })
  }

  /** The program's refresh decisions on an operation's inputs, evaluated
    * again outside its timed interval (the cache generation it read is
    * kept until the next operation). */
  private def decisions(spark: SparkSession, hs: Seq[Long],
                        input: (DataFrame, String, Int)): Seq[Boolean] = {
    val (reqs, from, v) = input
    val d = RecCache.refreshDecisions(reqs, spark.read.parquet(from),
      latest(spark, v)).select(col("household"), col("recalculate"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    hs.map(h => d.getOrElse(h, false))
  }

  /** `recalc` is the program's decision per household; the stream's
    * `recalculate` flags, worked out by the generator from the cache
    * contract, are what it must equal. */
  private def check(req: JsonNode, hs: Seq[Long], got: Array[Row],
                    recalc: Seq[Boolean]): Option[String] = {
    val alpha = req.get("alpha").asDouble()
    val v = version(req.get("version").asInt())
    val want = Json.bools(req.get("recalculate"))
    if (recalc != want)
      return Some(s"serve: refresh decisions $recalc for $hs, expected $want")
    val byH = got.map(r => r.getAs[Long]("household") -> r).toMap
    if (got.length != hs.size || byH.keySet != hs.toSet)
      return Some(s"serve: got households ${byH.keySet}, asked $hs")
    hs.zip(recalc).iterator.flatMap { case (h, fresh) =>
      val r = byH(h)
      val p = r.getAs[String]("payload")
      val err =
        if (fresh) {
          if (r.getAs[Double]("alpha") != alpha ||
              r.getAs[java.sql.Date]("rules_version") != v)
            Some(s"serve: household $h not refreshed to ($alpha, $v)")
          else expected.check(s"payload|alpha=$alpha|h=$h",
            Checksum.text(Seq(p)))
        } else if (!payloads.get(h).contains(p))
          Some(s"serve: cache hit for household $h changed its payload")
        else None
      payloads(h) = p
      err
    }.nextOption()
  }

  def record(spark: SparkSession): Unit = {
    val hs = 0L until header.get("households").asLong()
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], cacheSchema)
    Alphas.foreach { a =>
      Endpoints.cachedHybridRecommendations(tx, "o_custkey", "l_partkey",
        "l_orderkey", requests(spark, hs, a, hs.map(_ => true)), empty,
        latest(spark, 0), a, TopN).collect().foreach { r =>
        expected.check(s"payload|alpha=$a|h=${r.getAs[Long]("household")}",
          Checksum.text(Seq(r.getAs[String]("payload"))))
      }
    }
  }

  /** Cache figures from the program's own decisions (see `decisions`). */
  override def opMetrics(ops: Seq[OpRecord]): Map[String, Double] = {
    val done = ops.filter(o => o.failure.isEmpty && decided.contains(o.id))
    val recalc = done.map(o => decided(o.id))
    val served = recalc.map(_.size).sum.max(1)
    val missBatches = done.zip(recalc).filter(_._2.contains(true))
    val hitBatches = done.zip(recalc).filterNot(_._2.contains(true))
    Map(
      "RecCache.hit_ratio" ->
        (1.0 - recalc.map(_.count(identity)).sum.toDouble / served),
      "RecCache.recomputed_per_batch" ->
        recalc.map(_.count(identity)).sum.toDouble / done.size.max(1),
      "RecCache.miss_batch_s" -> Stats.median(missBatches.map(_._1.seconds)),
      "RecCache.hit_batch_s" -> Stats.median(hitBatches.map(_._1.seconds)))
  }

  def layerMetrics(spark: SparkSession, iso: Isolated): Map[String, Double] = {
    val t = iso.input(tx)
    iso.time("Collab.userItemCounts")(
      Collab.userItemCounts(t, "o_custkey", "l_partkey"))
    val counts = iso.input(Collab.userItemCounts(t, "o_custkey", "l_partkey"))
    iso.time("Collab.scoreCandidatesDirect")(
      Collab.scoreCandidatesDirect(counts, _ => lit(true)))
    iso.time("AssociationRules.rulesRaw")(AssociationRules.rulesRaw(t,
      "l_orderkey", "l_partkey", AssociationRules.Params(0.0, 0.0)))
    val rules = iso.input(AssociationRules.rulesRaw(t, "l_orderkey",
      "l_partkey", AssociationRules.Params(0.0, 0.0)))
    iso.time("Collab.assocScores")(Collab.assocScores(counts, rules))
    val cf = iso.input(Collab.scoreCandidatesDirect(counts, _ => lit(true)))
    val assoc = iso.input(Collab.assocScores(counts, rules))
    iso.time("Collab.hybridBlend")(Collab.hybridBlend(assoc, cf, 0.5, TopN))
    val (reqs, from, v) = lastInput
    val r = iso.input(reqs)
    val c = iso.input(spark.read.parquet(from))
    val l = iso.input(latest(spark, v))
    iso.time("RecCache.refreshDecisions")(RecCache.refreshDecisions(r, c, l))
    Map.empty
  }
}

/** Offline jobs: churn training, the churn-threshold sweep and corpus
  * curation followed by sequence packing. */
final class Batch(data: String, out: String) extends Workload {
  val name = "batch"
  val roundSize = 3
  val roundSeconds = 20.0
  val MaxIter = 3
  private var tx: DataFrame = _
  private var corpus: DataFrame = _
  private var bench: DataFrame = _
  private val Features = Seq("recency", "frequency", "monetary",
    "product_variety", "avg_purchase_gap")

  def load(spark: SparkSession): Unit = {
    val t = Tables(spark, data)
    tx = t.lineitem.select(col("l_orderkey").as("o_orderkey"),
        col("l_partkey"), col("l_extendedprice"))
      .join(t.orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate")), Seq("o_orderkey"))
    val docs = t.documents
    corpus = docs.where(col("doc_id") % 10 =!= 7)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    bench = docs.where(col("doc_id") % 10 === 7)
  }

  private def config(budget: Long) = CurationPipeline.Config(
    minQualityScore = 0.3,
    ratesPermille = Map("src0" -> 1000, "src1" -> 250),
    defaultPermille = 800,
    tokenBudgetPerSource = budget)

  private def packed(budget: Long, seqLen: Long): DataFrame =
    Packing.packSequencesFromCounts(
      CurationPipeline.prepare(corpus, bench, "doc_id", "text", "source",
        config(budget)), "doc_id", "est_tokens", seqLen, 64L)

  private def packKey(b: Long, s: Long) = s"pack|budget=$b|seq_len=$s"

  def run(req: JsonNode, ctx: OpCtx): Served =
    req.get("op").asText() match {
      case "trainAndScoreChurn" =>
        val offset = req.get("offset_days").asInt()
        val df = ctx.build("trainAndScoreChurn")(Endpoints.trainAndScoreChurn(
          tx, "o_custkey", "l_partkey", "l_extendedprice", col("o_orderdate"),
          offset, None, MaxIter))
        val got = ctx.action("trainAndScoreChurn")(df.collect())
        Served(1, () => checkScores(got))
      case "optimizeChurnThreshold" =>
        val ts = Json.longs(req.get("thresholds")).map(_.toInt)
        val sweep = ctx.build("optimizeChurnThreshold")(
          Endpoints.optimizeChurnThreshold(tx, "o_custkey", "l_partkey",
            "l_extendedprice", col("o_orderdate"), None, ts, MaxIter))
        Served(1, () =>
          if (sweep.points.map(_.threshold) != ts)
            Some(s"sweep: thresholds ${sweep.points.map(_.threshold)}")
          else if (!ts.contains(sweep.best))
            Some(s"sweep: best ${sweep.best} not among $ts")
          else if (!sweep.points.forall(p => unit(p.accuracy) &&
              unit(p.churnRecall)))
            Some(s"sweep: metric outside [0, 1] in ${sweep.points}")
          else None)
      case "preparePack" =>
        val b = req.get("token_budget").asLong()
        val s = req.get("seq_len").asLong()
        val path = s"$out/pack_manifest"
        val df = ctx.build("CurationPipeline.prepare")(packed(b, s))
        ctx.action("CurationPipeline.prepare")(Sinks.overwrite(df, path))
        Served(1, () => expected.check(packKey(b, s),
          Checksum.rows(ctx.spark.read.parquet(path))))
    }

  private def unit(x: Double) = x >= 0.0 && x <= 1.0

  private def checkScores(got: Array[Row]): Option[String] = {
    val ids = got.map(_.getAs[Long]("o_custkey"))
    if (got.isEmpty) Some("churn: no scored customers")
    else if (ids.distinct.length != ids.length)
      Some("churn: more than one row for a customer")
    else if (!got.forall(r => unit(r.getAs[Double]("churn_probability"))))
      Some("churn: probability outside [0, 1]")
    else if (got.exists(_.isNullAt(2))) Some("churn: missing risk band")
    else None
  }

  def record(spark: SparkSession): Unit =
    for (b <- TokenBudgets; s <- SeqLens)
      expected.check(packKey(b, s), Checksum.rows(packed(b, s)))

  override def opMetrics(ops: Seq[OpRecord]): Map[String, Double] = {
    def med(kind: String) = Stats.median(ops.filter(o =>
      o.kind == kind && o.failure.isEmpty).map(_.seconds))
    Map("batch.churn_train_s" -> med("trainAndScoreChurn"),
      "batch.churn_sweep_s" -> med("optimizeChurnThreshold"),
      "batch.corpus_pack_s" -> med("preparePack"))
  }

  def layerMetrics(spark: SparkSession, iso: Isolated): Map[String, Double] = {
    val t = iso.input(tx)
    iso.time("Churn.features")(Churn.features(t, "o_custkey", "l_partkey",
      "l_extendedprice", col("o_orderdate"), 90))
    val feats = iso.input(Churn.features(t, "o_custkey", "l_partkey",
      "l_extendedprice", col("o_orderdate"), 90))
    iso.time("Models.churnScores")(graft.ml.Models.churnScores(feats,
      Features, Nil, "is_churn", MaxIter)._2)
    // the stages of CurationPipeline.prepare, each fed its materialized
    // predecessor
    val cfg = config(5000L)
    val c0 = iso.input(corpus)
    val f1 = iso.input(c0.where(
      TextAnalysis.qualityScoreCol(col("text")) >= cfg.minQualityScore))
    iso.time("Dedup.exactByContent")(Dedup.exactByContent(f1, "doc_id",
      "text"))
    val f2 = iso.input(f1.join(Dedup.exactByContent(f1, "doc_id", "text")
      .select(col("doc_id")), Seq("doc_id"), "left_semi"))
    def near = NearDup.minHashPortableUnsorted(f2, "doc_id", "text",
      cfg.shingleLen, cfg.minJaccard, cfg.numHashes, cfg.bandSize)
    iso.time("NearDup.minHashPortableUnsorted")(near)
    val f3 = iso.input(f2.join(near.select(col("id_b").as("doc_id"))
      .distinct(), Seq("doc_id"), "left_anti"))
    val b = iso.input(bench)
    iso.time("Decontaminate.decontaminate")(Decontaminate.decontaminate(f3,
      b, "doc_id", "text", cfg.contamGramLen))
    val f4 = iso.input(Decontaminate.decontaminate(f3, b, "doc_id", "text",
      cfg.contamGramLen))
    val f5 = iso.input(Mixing.sampleByRates(f4, "doc_id", "source",
      cfg.ratesPermille, cfg.defaultPermille))
    iso.time("Mixing.takeByTokenBudget")(Mixing.takeByTokenBudget(f5,
      "doc_id", "text", "source", cfg.tokenBudgetPerSource))
    val f6 = iso.input(Mixing.takeByTokenBudget(f5, "doc_id", "text",
      "source", cfg.tokenBudgetPerSource))
    iso.time("Packing.packSequencesFromCounts")(
      Packing.packSequencesFromCounts(f6, "doc_id", "est_tokens", 512L, 64L))
    val stages = Seq("quality" -> (c0, f1), "exact_dedup" -> (f1, f2),
      "near_dup" -> (f2, f3), "decontaminate" -> (f3, f4),
      "mixing" -> (f4, f5), "token_budget" -> (f5, f6))
    stages.flatMap { case (s, (in, o)) =>
      Seq(s"CurationPipeline.$s.rows_in" -> in.count().toDouble,
        s"CurationPipeline.$s.rows_out" -> o.count().toDouble)
    }.toMap
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
