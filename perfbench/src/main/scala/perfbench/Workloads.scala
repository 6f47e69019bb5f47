package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Parallelize, Planted, Tables}
import graft.dedup.{ConnectedComponents, DedupStore, EditDistanceJoin, ExactDedup, MinHashLSH, PrefixFilterJoin}
import graft.functions.{HashExprs, TextFunctions}
import graft.segmentation.{Elbow, KMeansMR, KMeansRDD, Pipelines}
import graft.similarity.{AnnIndex, ProductQuantization}
import graft.streaming.DocStreamIngest

/** What a workload's steps see: the session, the generated inputs, a
  * scratch dir for this pass, and the tracer that wraps every call.
  */
final class Ctx(val spark: SparkSession, val dataDir: String, val workDir: String,
                val tracer: Tracer) {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** One step of a pass; returns a deterministic digest of its result, or
    * None when the step threw (it is then counted as failed).
    */
  def step(name: String)(body: => String): Option[String] = {
    attempted += 1
    val t0 = System.nanoTime()
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    } finally {
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] pass ${tracer.pass} $name $secs%.3f s")
    }
  }

  /** A check counted like a step: false or a throw is a failure. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch {
      case e: Throwable => failures += s"$name: ${e.getMessage}".take(400); false
    }
    if (!good) { failed += 1; if (!failures.exists(_.startsWith(name))) failures += name }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

trait Workload {
  def name: String
  /** Tables the passes read, registered as views at set-up (run.py sizes
    * and generates them). */
  def tables: Seq[String]
  /** One closed-loop pass; returns the pass's result digest. */
  def pass(c: Ctx): String
  /** SparkEntry queries run after the passes, whose oracle SQL gates the
    * steps that mirror them. */
  def gated: Seq[String]
  /** Results of the last pass, keyed by the SparkEntry query whose oracle
    * SQL they must match. */
  def fromPass(c: Ctx): Map[String, DataFrame] = Map.empty
  /** Untimed checks besides the oracle gate. */
  def checks(c: Ctx): Unit = ()
}

object Workloads {
  val all: Seq[Workload] = Seq(Segment, Dedup)

  /** One call into every layer, run by each traced run after its passes,
    * so every per-layer metric is measured whatever the workload: the
    * segmentation calls, single-kernel throughput and blocking funnels,
    * and the persisted-state paths (no timed workload runs those).
    */
  def probes(c: Ctx): Map[String, Double] = {
    Segment.probe(c)
    val funnels = Dedup.funnels(c)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(c.workDir))
    Store.pass(c)
    funnels
  }
  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(sys.error(s"unknown workload $n"))

  def digest(rows: Array[Row]): String = rows.map(_.mkString(",")).sorted.mkString(";")
  def bitsTrue(rows: Array[Row]): Boolean =
    rows.nonEmpty && rows.forall(r => (0 until r.length).forall(i => r.get(i) == true))
}

import Workloads._

/** The paper's workflow: ingest + recode, hand-rolled MapReduce K-means from
  * fixed inits, MLlib elbow sweep, WCSS and the 2-D histogram.
  */
object Segment extends Workload {
  val name = "segment"
  val tables = Seq("events")
  val gated = Seq("q19_kmeans_assign", "q20_wcss", "q41_elbow_sweep",
    "q42_segmentation_pipeline")

  private val hd = Seq("order_hour_of_day", "order_dow")
  private val hp = Seq("order_hour_of_day", "department_id")
  /** Six fixed init sets: K = 3, 4, 5 on (hour, dow) and on (hour, dept).
    * The first is the reference's K=3 (A) init that q40 gates. Each fit
    * runs `maxIter` Lloyd iterations, one `collect` each.
    */
  val inits: Seq[(Seq[String], Array[Array[Double]])] = Seq(
    hd -> Array(Array(17.0, 0.0), Array(13.0, 0.0), Array(8.0, 3.0)),
    hd -> Array(Array(3.0, 1.0), Array(9.0, 2.0), Array(15.0, 4.0), Array(21.0, 5.0)),
    hd -> Array(Array(2.0, 0.0), Array(7.0, 2.0), Array(12.0, 3.0), Array(17.0, 5.0),
      Array(22.0, 6.0)),
    hp -> Array(Array(4.0, 5.0), Array(12.0, 11.0), Array(20.0, 17.0)),
    hp -> Array(Array(3.0, 3.0), Array(9.0, 8.0), Array(15.0, 13.0), Array(21.0, 18.0)),
    hp -> Array(Array(2.0, 2.0), Array(7.0, 6.0), Array(12.0, 10.0), Array(17.0, 14.0),
      Array(22.0, 19.0)))

  val maxIter = 3
  val elbowKs: Seq[Int] = 2 to 5
  /** The last pass's fits, for the parity check against the RDD form. */
  @volatile private var lastFits: Seq[graft.segmentation.KMeansResult] = Nil

  private def features(c: Ctx): DataFrame =
    Pipelines.ordersFeatures(c.spark, c.dataDir)
      .select("order_hour_of_day", "order_dow", "department_id", "days", "order_dow_updated")

  def pass(c: Ctx): String = {
    val out = mutable.ArrayBuffer.empty[String]
    val feats = features(c).persist()
    try {
      c.step("features") {
        c.span("segmentation.features") {
          digest(feats.groupBy("days", "order_dow_updated").count().collect())
        }
      }.foreach(out += _)
      val fits = inits.flatMap { case (dims, init) =>
        var fit: Option[graft.segmentation.KMeansResult] = None
        c.step("kmeans_fit") {
          val r = c.span("segmentation.kmeans_fit")(KMeansMR.fit(feats, dims, init, maxIter))
          c.tracer.extra("segmentation.kmeans_iters", r.iterations)
          fit = Some(r)
          r.centroids.map(_.mkString("/")).mkString("|") + s"@${r.iterations}"
        }.foreach(out += _)
        fit
      }
      lastFits = fits
      c.step("elbow_sweep") {
        val pts = c.span("segmentation.elbow_sweep")(
          Elbow.sweep(feats, Seq("order_hour_of_day"), ks = elbowKs))
        require(pts.map(_.k) == elbowKs, "elbow sweep lost a k")
        "" // MLlib's k-means|| init is not part of the digest
      }
      c.step("wcss") {
        c.span("segmentation.wcss")(KMeansMR.wcss(feats, hd, inits.head._2)).toString
      }.foreach(out += _)
      c.step("hist2d") {
        c.span("segmentation.hist2d")(
          digest(Pipelines.histogram2d(feats, "order_hour_of_day", "order_dow").collect()))
      }.foreach(out += _)
    } finally { feats.unpersist(); () }
    out.mkString("\n")
  }

  /** One fit, a two-point sweep, WCSS and the histogram. */
  def probe(c: Ctx): Unit = {
    val feats = c.span("segmentation.features")(features(c).persist())
    try c.step("segmentation_probe") {
      val (dims, init) = inits.head
      val r = c.span("segmentation.kmeans_fit")(KMeansMR.fit(feats, dims, init, maxIter))
      c.tracer.extra("segmentation.kmeans_iters", r.iterations)
      c.span("segmentation.elbow_sweep")(Elbow.sweep(feats, Seq("order_hour_of_day"), ks = 2 to 3))
      c.span("segmentation.wcss")(KMeansMR.wcss(feats, dims, r.centroids))
      c.span("segmentation.hist2d")(
        Pipelines.histogram2d(feats, "order_hour_of_day", "order_dow").collect())
      ""
    } finally { feats.unpersist(); () }
  }

  /** The last pass's MapReduce fits must equal the reference's RDD form
    * from the same inits (strict-`<` lowest-index tie-break, exact-equality
    * convergence).
    */
  override def checks(c: Ctx): Unit = {
    val feats = features(c).persist()
    try inits.zipWithIndex.foreach { case ((dims, init), i) =>
      c.check(s"kmeans_parity_$i") {
        val a = lastFits(i)
        val b = KMeansRDD.fit(feats, dims, init, maxIter)
        a.iterations == b.iterations && a.converged == b.converged &&
          a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq
      }
    } finally { feats.unpersist(); () }
  }
}

/** The LLM-corpus near-dup stack over corpus + planted rows: q68's chain
  * (exact -> MinHash LSH -> components -> per-language stats), q133's
  * prefix-filter join and q136's edit-distance join. These are the
  * compositions of their planted companions q143, q145 and q146, whose
  * closed-form oracles gate the planted slice of the last pass's outputs.
  * (The originals' oracles are brute-force all-pairs joins that DuckDB
  * cannot finish within a run at this corpus size.)
  */
object Dedup extends Workload {
  val name = "dedup"
  val tables = Seq("documents", "customer")
  val gated: Seq[String] = Nil
  @volatile private var lastSlices: Map[String, (Array[Row], StructType)] = Map.empty

  override def fromPass(c: Ctx): Map[String, DataFrame] = lastSlices.map {
    case (q, (rows, schema)) =>
      q -> c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  def pass(c: Ctx): String = {
    val out = mutable.ArrayBuffer.empty[String]
    val slices = mutable.Map.empty[String, (Array[Row], StructType)]
    val s = c.spark
    val docs = Tables.documents(s, c.dataDir).unionByName(Planted.docs(s))
    def planted(rows: Array[Row]) = rows.filter(_.getAs[Long]("id1") >= Planted.base)
    c.step("q68") {
      val exact = c.span("dedup.exact")(ExactDedup.deduplicate(Parallelize.ensure(docs)))
      val pairs = c.span("dedup.lsh_pairs")(
        MinHashLSH.nearDuplicatePairs(exact, threshold = 0.3).select("id1", "id2"))
      val cleaned = c.span("dedup.components")(ConnectedComponents.deduplicate(exact, pairs))
      val stats = cleaned.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("text")).cast("bigint")).as("total_tokens"))
      val rows = c.span("dedup.stats")(stats.collect())
      slices("q143_planted_dedup_chain") = (rows.filter(_.getString(0) == "planted"), stats.schema)
      digest(rows)
    }.foreach(out += _)
    // similarPairs stages eagerly above the input-size gate, so the call
    // itself is inside the span
    c.step("q133") {
      val (rows, schema) = c.span("dedup.prefix_join") {
        val pairs = PrefixFilterJoin.similarPairs(docs, num = 4, den = 5, shingleWords = 5)
        (pairs.collect(), pairs.schema)
      }
      slices("q145_planted_prefix_join") = (planted(rows), schema)
      s"${rows.length}"
    }.foreach(out += _)
    c.step("q136") {
      val names = Tables.customer(s, c.dataDir).select("c_custkey", "c_name")
        .unionByName(Planted.customers(s))
      val (rows, schema) = c.span("dedup.editdist") {
        val pairs = EditDistanceJoin.similarPairs(names, "c_custkey", "c_name")
        (pairs.collect(), pairs.schema)
      }
      slices("q146_planted_editdist") = (planted(rows), schema)
      s"${rows.length}"
    }.foreach(out += _)
    c.span("dedup.iterstate_purge")(graft.IterState.purge(s))
    lastSlices = slices.toMap
    out.mkString("\n")
  }

  /** Single-kernel throughput and the LSH and prefix-filter funnels,
    * measured apart from the passes so they add no work to the timed path.
    */
  def funnels(c: Ctx): Map[String, Double] = {
    val s = c.spark
    val docs = Parallelize.ensure(Tables.documents(s, c.dataDir)).persist()
    try {
      val n = docs.count().toDouble
      def rate(name: String)(df: => DataFrame): Double = {
        c.noop(df) // warm the kernel once
        val t0 = System.nanoTime()
        c.span(name)(c.noop(df))
        n / ((System.nanoTime() - t0) / 1e9)
      }
      val minhash = rate("kernel.minhash")(MinHashLSH.signatures(docs).select("sig"))
      val simhash = rate("kernel.simhash")(docs.select(HashExprs.simhash64(col("text"))))
      val sigs = MinHashLSH.signatures(ExactDedup.deduplicate(docs)).persist()
      val (cand, verified) = try {
        val cands = c.span("dedup.lsh_candidate_pairs")(MinHashLSH.candidatePairs(sigs)).persist()
        try {
          val nc = cands.count().toDouble
          val nv = c.span("dedup.lsh_verify_pairs")(
            MinHashLSH.verifyPairs(cands, sigs).filter(col("jaccard") >= 0.3).count()).toDouble
          (nc, nv)
        } finally { cands.unpersist(); () }
      } finally { sigs.unpersist(); () }
      val fs = c.span("dedup.prefix_blocking_stats")(
        PrefixFilterJoin.blockingStats(Tables.documents(s, c.dataDir), 4, 5, 5).collect()(0))
      graft.IterState.purge(s)
      val pc = fs.getAs[Long]("n_candidate_pairs").toDouble
      val pr = fs.getAs[Long]("n_result_pairs").toDouble
      Map("kernel.minhash_rows_per_s" -> minhash, "kernel.simhash_rows_per_s" -> simhash,
        "dedup.lsh_candidates" -> cand, "dedup.lsh_verified" -> verified,
        "dedup.lsh_precision" -> (if (cand > 0) verified / cand else 0.0),
        "dedup.prefix_precision" -> (if (pc > 0) pr / pc else 0.0))
    } finally { docs.unpersist(); () }
  }
}

/** Persisted state written beside reads: the dedup store (q186/q187/q189
  * shape), the ANN index (q183/q191/q193) and store-backed streaming ingest
  * (q209/q211). Run once per traced run, outside the timed passes; each
  * step checks its own construction-pinned results.
  */
object Store {
  private def dirSize(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirSize).sum).getOrElse(0L)
    else f.length()

  def pass(c: Ctx): String = {
    val out = mutable.ArrayBuffer.empty[String]
    val s = c.spark
    import s.implicits._
    val docs = Parallelize.ensure(Tables.documents(s, c.dataDir))
    val storeDir = s"${c.workDir}/dedup_store"
    val annDir = s"${c.workDir}/ann_index"
    def verdicts(df: DataFrame) = digest(df.groupBy("verdict").count().collect())

    c.step("dedup_store") {
      c.span("store.write")(DedupStore.write(
        docs.filter(col("doc_id") < 250).unionByName(Planted.dedupStoredDocs(s)), storeDir))
      c.tracer.extra("store.space_amp", dirSize(new java.io.File(storeDir)).toDouble /
        new java.io.File(s"${c.dataDir}/documents.parquet").length())
      val st = c.span("store.load")(DedupStore.load(s, storeDir))
      val first = c.span("store.ingest")(verdicts(DedupStore.ingest(st,
        docs.filter(col("doc_id") >= 250).unionByName(Planted.dedupBatchDocs(s)))))
      c.span("store.purge")(DedupStore.purge(
        Seq(Planted.dsBase, Planted.dsBase + 1).toDF("doc_id"), storeDir))
      val st2 = c.span("store.load")(DedupStore.load(s, storeDir))
      val again = c.span("store.ingest")(DedupStore.ingest(st2, Planted.dedupBatchDocs(s))
        .select("doc_id", "verdict").collect()).map(r => r.getLong(0) -> r.getString(1)).toMap
      // q189's construction-pinned verdicts: purged content is forgotten,
      // unpurged copies and near-variants stay suppressed
      val B = Planted.dsBase
      def all(ids: Seq[Long], v: String) = ids.forall(i => again.get(i).contains(v))
      require(all(Seq(B + 100, B + 101, B + 200, B + 201), "new") &&
        all(Seq(B + 102, B + 103, B + 104), "dup_vs_store") &&
        all(Seq(B + 202, B + 203, B + 204), "near_dup_vs_store"),
        s"re-ingest after purge: $again")
      first
    }.foreach(out += _)

    c.step("ann_index") {
      val emb = Tables.embeddings(s, c.dataDir)
      c.span("ann.write")(AnnIndex.write(emb.filter(col("vec_id") % 5 =!= 4), annDir,
        m = 8, k = 64, nLists = 16, maxIter = 3))
      val idx = c.span("ann.load")(AnnIndex.load(s, annDir))
      c.span("ann.append")(AnnIndex.append(idx, emb.filter(col("vec_id") % 5 === 4), annDir))
      c.span("ann.purge")(AnnIndex.purge(
        (5L until 15L).toDF("vec_id"), annDir))
      val grown = c.span("ann.load")(AnnIndex.load(s, annDir))
      val queries = ProductQuantization.normalized(emb.filter(col("vec_id") < 5), "embedding", "nvec")
        .orderBy("vec_id").select("vec_id", "nvec").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      val hits = c.span("ann.search")(AnnIndex.searchRefined(grown, emb, queries, k = 10,
        nProbe = 10, shortlist = 250).collect())
      require(hits.length == 50, s"searchRefined returned ${hits.length} rows, expected 50")
      require(!hits.exists(r => r.getAs[Long]("neighbor_id") >= 5 &&
        r.getAs[Long]("neighbor_id") < 15), "a purged vector was returned")
      ""
    }

    c.step("stream_ingest") {
      val bits = c.span("stream.ingest")(DocStreamIngest.ingestVerdictsBounded(s, c.dataDir).collect())
      require(bitsTrue(bits), s"stream verdict bits: ${bits.mkString}")
      ""
    }
    c.step("stream_restart") {
      val bits = c.span("stream.restart")(
        DocStreamIngest.ingestVerdictsRestartBounded(s, c.dataDir).collect())
      require(bitsTrue(bits), s"restart verdict bits: ${bits.mkString}")
      ""
    }
    out.mkString("\n")
  }
}
