package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{MediaFixtures, Tables}
import graft.ext.{Curation, Dedup, Multimodal, Similarity, TextOps, WebOps}
import graft.ops.{Dates, Relational}
import graft.pipeline.CapstoneEtl
import graft.plans.TopKPerKey

/** One timed call of the workload script: a layer function plus whatever
  * forces its result.
  */
final case class OpRecord(name: String, kind: String, phase: String, ms: Double,
                          ok: Boolean, error: String, results: Long)

final case class Check(name: String, ok: Boolean, detail: String)

/** Shared state of one benchmark run: the session, the tracer, and what the
  * run has recorded so far.
  */
final class Run(val spark: SparkSession, val tracer: Tracer, val inputs: String,
                val work: String) {
  val ops = ArrayBuffer[OpRecord]()
  val checks = ArrayBuffer[Check]()
  /** workload-specific results `run.py` judges (pairs, digests), as JSON-able values */
  val extra = mutable.LinkedHashMap[String, Any]()
  var phase = "setup"

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += Check(name, ok, if (ok) "" else detail)

  /** Time `body` as one op inside a span named after the layer function.
    * A throwing op is recorded as failed and yields None.
    */
  def op[T](layer: String, fn: String, kind: String = "read")(body: => T)
           (results: T => Long = (_: T) => 0L): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val out = tracer.span(layer, fn)(body)
      val ms = (System.nanoTime() - t0) / 1e6
      ops += OpRecord(s"$layer.$fn", kind, phase, ms, ok = true, "", results(out))
      Some(out)
    } catch {
      case e: Exception =>
        val ms = (System.nanoTime() - t0) / 1e6
        ops += OpRecord(s"$layer.$fn", kind, phase, ms, ok = false,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}", 0L)
        None
    }
  }

  /** A call nested inside an op: a child span, not an op of its own. */
  def call[T](layer: String, fn: String)(body: => T): T = tracer.span(layer, fn)(body)

  def read(name: String): DataFrame = Tables.load(spark, inputs, name)
}

object Force {
  /** Compute every row and column of `df` without keeping the output. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** A workload: program-side set-up, then steps. A step is one batch pass,
  * or one cycle of store blocks; a timed phase is exactly one step.
  */
trait Workload {
  /** load client-side inputs into memory; untimed */
  def load(): Unit = ()
  def setup(dir: String): Unit
  /** input records one step processes (batch workloads) */
  def recordsPerStep: Long
  /** run one step. With `keep`, the step holds on to its results for
    * [[verify]].
    */
  def step(run: Run, keep: Boolean): Unit
  /** untimed correctness checks of the kept step's results */
  def verify(run: Run): Unit = ()
  def finish(run: Run): Unit = ()
  /** steps run before timing starts */
  def warmSteps(traced: Boolean): Int = 1
}

object Workloads {
  def apply(name: String, run: Run): Workload = name match {
    case "batch" => new Batch(Seq(new EtlStar(run), new TextCuration(run), new MediaDedup(run)))
    case "store_mixed" => new StoreMixed(run)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def bits(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** (doc_a, doc_b) of each near-dup pair row */
  def pairs(rows: Array[Row]): Seq[Seq[Long]] =
    rows.toSeq.map(r => Seq(r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
}

/** Batch scripts run back to back as one pass. */
final class Batch(parts: Seq[Workload]) extends Workload {
  override def load(): Unit = parts.foreach(_.load())
  def setup(dir: String): Unit = parts.foreach(_.setup(dir))
  def recordsPerStep: Long = parts.map(_.recordsPerStep).sum
  def step(run: Run, keep: Boolean): Unit = parts.foreach(_.step(run, keep))
  override def verify(run: Run): Unit = parts.foreach(_.verify(run))
  // a batch job runs once per fresh JVM, so its users pay the first pass's
  // code generation and JIT every time: an untraced run times that pass.
  // A traced run warms up first so both of its halves time warm passes.
  override def warmSteps(traced: Boolean): Int = if (traced) 1 else 0
}

/** The capstone star-schema ETL plus the relational queries over its
  * inputs: scan, shuffle and write in `pipeline`, `ops` and `plans`.
  */
final class EtlStar(run: Run) extends Workload {
  import run.spark
  private def t(name: String) = run.read(name)
  private var out = ""
  lazy val recordsPerStep: Long = t("orders").count() + t("lineitem").count()

  def setup(dir: String): Unit = {
    out = s"$dir/star"
    // table handles: schema resolution and file listing happen here
    Seq("orders", "lineitem", "customer", "part", "supplier", "nation", "region")
      .foreach(n => t(n).schema)
  }

  /** Row count and exact sum of `df`, for `run.py` to compare; returns the count. */
  private def digest(name: String, df: DataFrame, sumExpr: String): Long = {
    val r = df.selectExpr("count(*)", s"CAST(sum($sumExpr) AS DECIMAL(38,2))").head()
    run.extra(s"digest.$name") = Map("n" -> r.getLong(0),
      "s" -> Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("null"))
    r.getLong(0)
  }

  def step(run: Run, keep: Boolean): Unit = {
    val (orders, lineitem, customer) = (t("orders"), t("lineitem"), t("customer"))
    val (part, supplier, nation, region) = (t("part"), t("supplier"), t("nation"), t("region"))
    // the fact and demographics builders return lazy frames: their jobs
    // run inside the write, which is the pipeline's one action
    var fact, demo: DataFrame = null
    run.op("pipeline", "CapstoneEtl.writeStarSchema", "write") {
      fact = run.call("pipeline", "CapstoneEtl.capstoneFactFromTestdata")(
        CapstoneEtl.capstoneFactFromTestdata(spark, orders, nation, region))
      demo = run.call("pipeline", "CapstoneEtl.portDemographicsFromTestdata")(
        CapstoneEtl.portDemographicsFromTestdata(spark, customer, nation))
      CapstoneEtl.writeStarSchema(fact, demo, Map("nation" -> nation, "region" -> region), out)
    }()
    val star = run.op("ops", "Relational.starJoin") {
      val df = Relational.starJoin(lineitem, orders, part, supplier, customer, nation)
      Force.noop(df); df
    }()
    val gbs = run.op("ops", "Relational.groupBySum") {
      val df = Relational.groupBySum(lineitem)
      df.collect(); df
    }()
    val wtk = run.op("ops", "Relational.windowTopK") {
      val df = Relational.windowTopK(orders); Force.noop(df); df
    }()
    val sas = run.op("ops", "Dates.sasDateConvert") {
      val df = Dates.sasDateConvert(lineitem); Force.noop(df); df
    }()
    val topk = run.op("plans", "TopKPerKey") {
      val df = TopKPerKey(lineitem, Seq("l_suppkey"), "l_extendedprice", "l_orderkey", 5)
      Force.noop(df); df
    }()
    if (keep) check = () => {
      val factRows = digest("fact", fact, "admission_number")
      digest("port_demographics", demo, "total_population")
      star.foreach(digest("star_join", _, "CAST(extended_price AS DECIMAL(18,2))"))
      gbs.foreach(df => run.extra("digest.group_by_sum") = {
        val r = df.selectExpr("CAST(sum(n_rows) AS BIGINT)",
          "CAST(sum(CAST(sum_price AS DECIMAL(18,2))) AS DECIMAL(38,2))").head()
        Map("n" -> r.getLong(0), "s" -> r.getDecimal(1).toPlainString)
      })
      wtk.foreach(digest("window_topk", _, "CAST(total_price AS DECIMAL(18,2))"))
      sas.foreach(digest("sas_date", _, "sas_days"))
      topk.foreach(digest("topk_per_key", _, "CAST(l_extendedprice AS DECIMAL(18,2))"))
      val written = spark.read.parquet(s"$out/immigrations").count()
      run.check("star_schema.readback", written == factRows,
        s"immigrations has $written rows")
    }
  }

  private var check: () => Unit = () => ()
  override def verify(run: Run): Unit = check()
}

/** The LLM-corpus curation job: near-dup detection, quality rules and the
  * curation funnel over a corpus with planted duplicates.
  */
final class TextCuration(run: Run) extends Workload {
  import run.spark
  private def docs = run.read("documents")
  private def emb = run.read("embeddings")
  lazy val recordsPerStep: Long = docs.count()

  def setup(dir: String): Unit = { docs.schema; emb.schema; () }

  def step(run: Run, keep: Boolean): Unit = {
    val mh = run.op("ext.Dedup", "minhashNearDup")(
      Dedup.minhashNearDup(docs).collect())(_.length.toLong)
    val sh = run.op("ext.Dedup", "simhashNearDup")(
      Dedup.simhashNearDup(docs).collect())(_.length.toLong)
    run.op("ext.TextOps", "gopherRules")(Force.noop(TextOps.gopherRules(docs)))()
    val funnel = run.op("ext.Curation", "curationFunnel") {
      val withUrl = run.call("ext.WebOps", "withSyntheticCrawlUrl")(WebOps.withSyntheticCrawlUrl(docs))
      Curation.curationFunnel(withUrl, embeddings = Some(emb)).collect()
    }(_.length.toLong)
    if (keep) check = () => {
      mh.foreach(rows => run.extra("pairs.minhash") = rows.toSeq.map(r =>
        Seq(r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))))
      sh.foreach { rows =>
        run.extra("pairs.simhash") = Workloads.pairs(rows)
        // exact verification through the composed-builtins fingerprint,
        // an implementation independent of the fused sketch under test
        val fp = Dedup.simhashComposed(docs).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val bad = rows.filter(r => Workloads.bits(fp(r.getAs[Long]("doc_a")),
          fp(r.getAs[Long]("doc_b"))) > 3)
        run.check("simhash.pairs_verified", bad.isEmpty, s"${bad.length} pairs over Hamming 3")
      }
      funnel.foreach(rows => run.extra("funnel") = rows.toSeq.map(r =>
        Seq(r.getAs[String]("stage_name"), r.getAs[Long]("n_docs"))))
    }
  }

  private var check: () => Unit = () => ()
  override def verify(run: Run): Unit = check()
}

/** Perceptual hashing and near-dup over stored PNG, WAV and GVID payloads:
  * per-row codec work in `ext.Multimodal`.
  */
final class MediaDedup(run: Run) extends Workload {
  import run.spark
  private val kinds = Seq("png_clusters", "wav_clusters", "video_clusters")
  private var media = Map.empty[String, DataFrame]
  lazy val recordsPerStep: Long = media.values.map(_.count()).sum

  /** Stored payloads are inputs: MediaFixtures encodes them once per run
    * (it caches under java.io.tmpdir, which each run points at a fresh
    * directory), untimed, like the generator's parquet tables.
    */
  override def load(): Unit = kinds.foreach(k => MediaFixtures.table(spark, s"${run.inputs}/media", k))

  /** Fixture load: open every payload table and read all its payload bytes
    * once, as a deployment reading stored payloads would.
    */
  def setup(dir: String): Unit = {
    media = kinds.map { k =>
      val t = MediaFixtures.table(spark, s"${run.inputs}/media", k)
      t.selectExpr("sum(length(payload))").collect()
      k -> t
    }.toMap
  }

  private def verify(name: String, pairs: Array[Row], dist: (Long, Long) => Int, max: Int): Unit = {
    val bad = pairs.count(r => dist(r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) > max)
    run.check(s"$name.pairs_verified", bad == 0, s"$bad pairs over distance $max")
  }

  def step(run: Run, keep: Boolean): Unit = {
    val png = media("png_clusters")
    val wav = media("wav_clusters")
    val vid = media("video_clusters")
    val img = run.op("ext.Multimodal", "imageDhash")(
      Multimodal.imageDhash(spark, png).collect())(_.length.toLong)
    val imgPairs = run.op("ext.Multimodal", "imageNearDup")(
      Multimodal.imageNearDup(spark, png).collect())(_.length.toLong)
    val aud = run.op("ext.Multimodal", "audioEhash")(
      Multimodal.audioEhash(spark, wav).collect())(_.length.toLong)
    val audPairs = run.op("ext.Multimodal", "audioNearDup")(
      Multimodal.audioNearDup(spark, wav).collect())(_.length.toLong)
    val vph = run.op("ext.Multimodal", "videoPhash")(
      Multimodal.videoPhash(spark, vid).collect())(_.length.toLong)
    val vidPairs = run.op("ext.Multimodal", "videoNearDup")(
      Multimodal.videoNearDup(spark, vid).collect())(_.length.toLong)
    if (keep) check = () => {
      val ih = img.map(_.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dhash")).toMap)
      val ah = aud.map(_.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("ehash")).toMap)
      val vh = vph.map(_.groupBy(_.getAs[Long]("doc_id")).map { case (id, rs) =>
        id -> rs.map(r => r.getAs[Int]("slot") -> r.getAs[Long]("dhash")).toMap })
      for (p <- imgPairs; h <- ih) {
        run.extra("pairs.image") = Workloads.pairs(p)
        verify("image", p, (a, b) => Workloads.bits(h(a), h(b)), 6)
      }
      for (p <- audPairs; h <- ah) {
        run.extra("pairs.audio") = Workloads.pairs(p)
        verify("audio", p, (a, b) => Workloads.bits(h(a), h(b)), 6)
      }
      for (p <- vidPairs; h <- vh) {
        run.extra("pairs.video") = Workloads.pairs(p)
        verify("video", p, (a, b) =>
          h(a).keys.map(s => Workloads.bits(h(a)(s), h(b).getOrElse(s, ~h(a)(s)))).sum, 3)
      }
    }
  }

  private var check: () => Unit = () => ()
  override def verify(run: Run): Unit = check()
}

/** A single client against the flat BM25 and IVF stores: a seeded mix of
  * reads (probe, BM25 arm, hybrid) and writes (append, streamed day,
  * tombstone, periodic compaction), one op at a time, no think time. The
  * plan's first step is the warm-up; every later step is one cycle that
  * holds each write type once and ends with a compaction.
  */
final class StoreMixed(run: Run) extends Workload {
  import run.spark
  private var lexDir, annDir = ""
  private val plan: IndexedSeq[Array[String]] = {
    val src = scala.io.Source.fromFile(s"${run.inputs}/ops.txt")
    try src.getLines().map(_.split(' ')).toIndexedSeq finally src.close()
  }
  private var next = 0
  private var day = 0L
  private var folded = true // no write since the last compaction
  private val dead = mutable.Set[Long]()
  private val born = mutable.Set[Long]()
  val recordsPerStep = 0L
  private val newIdBase = 10000000L

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  // every query and write batch the client will send, held in memory
  private lazy val qDocs = run.read("query_docs").collect().map(r => r.getLong(0) -> r).toMap
  private lazy val qVecs = run.read("query_vecs").collect().map(r => r.getLong(0) -> r).toMap
  private lazy val newDocs = run.read("new_docs").collect().map(r => r.getLong(0) -> r).toMap
  private lazy val newVecs = run.read("new_vecs").collect().map(r => r.getLong(0) -> r).toMap
  private lazy val docs = run.read("documents").collect().map(r => r.getLong(0) -> r).toMap
  private lazy val vecs = run.read("embeddings").collect().map(r => r.getLong(0) -> r).toMap
  private lazy val docSchema = run.read("documents").schema
  private lazy val vecSchema = run.read("embeddings").schema

  private def withId(r: Row, id: Long): Row = Row.fromSeq(id +: r.toSeq.tail)

  override def load(): Unit = { (qDocs, qVecs, newDocs, newVecs, docs, vecs, docSchema, vecSchema); () }

  def setup(dir: String): Unit = {
    lexDir = s"$dir/lex"
    annDir = s"$dir/ann"
    run.call("ext.TextOps", "bm25IndexInit")(TextOps.bm25IndexInit(run.read("documents"), lexDir))
    run.call("ext.Similarity", "ivfIndexStoreInit")(
      Similarity.ivfIndexStoreInit(run.read("embeddings"), annDir))
  }

  /** A timed read; no read may return a tombstoned id. */
  private def readOp(kind: String, fn: String, layer: String, idCol: String)
                    (body: => Array[Row]): Option[Seq[Long]] =
    run.op(layer, fn)(body)(_.length.toLong).map { rows =>
      val got = rows.toSeq.map(_.getAs[Long](idCol))
      val hit = got.filter(dead)
      run.check(s"plan line $next: no tombstoned id", hit.isEmpty, s"$kind returned tombstoned ids $hit")
      got
    }

  private def batch(a: Long, b: Long) = {
    val range = (a to b)
    (local(range.map(newDocs), docSchema), local(range.map(newVecs), vecSchema), range.size)
  }

  /** One step of the plan: its ops up to the `end` marker. */
  def step(run: Run, keep: Boolean): Unit = {
    require(next < plan.length, "the op plan has no further step")
    while (plan(next)(0) != "end") {
      op(plan(next))
      next += 1
    }
    next += 1
  }

  private def op(p: Array[String]): Unit = p(0) match {
    case "probe" =>
      val q = -(p(1).toLong + 1)
      readOp("probe", "ivfIndexStoreProbe", "ext.Similarity", "neighbor_id")(
        Similarity.ivfIndexStoreProbe(spark, local(Seq(qVecs(q)), vecSchema), annDir, k = 10).collect())
    case "bm25" =>
      val q = -(p(1).toLong + 1)
      readOp("bm25", "bm25StoreQueryArm", "ext.TextOps", "doc_id")(
        TextOps.bm25StoreQueryArm(spark, local(Seq(qDocs(q)), docSchema), lexDir, arm = 10).collect())
    case "hybrid" =>
      val q = -(p(1).toLong + 1)
      readOp("hybrid", "hybridRrfStoreTopDocs", "ext.TextOps", "doc_id")(
        TextOps.hybridRrfStoreTopDocs(local(Seq(qDocs(q)), docSchema),
          local(Seq(qVecs(q)), vecSchema), lexDir, annDir, k = 10).collect())
    case "expect" =>
      // a row's own text and vector as the query: served iff it is live
      val (id, live) = (p(1).toLong, p(2) == "1")
      val (doc, vec) = if (id >= newIdBase) (newDocs(id), newVecs(id)) else (docs(id), vecs(id))
      readOp("expect", "hybridRrfStoreTopDocs", "ext.TextOps", "doc_id")(
        TextOps.hybridRrfStoreTopDocs(local(Seq(withId(doc, -(id + 1))), docSchema),
          local(Seq(withId(vec, -(id + 1))), vecSchema), lexDir, annDir, k = 10).collect())
        .foreach(got => run.check(s"expect.$id", got.contains(id) == live,
          s"row $id ${if (live) "written by the previous op is not served" else "is served after its tombstone"}"))
    case "append" | "stream_day" =>
      val (docs, vecs, n) = batch(p(1).toLong, p(2).toLong)
      val stream = p(0) == "stream_day"
      val d = day
      if (stream) day += 1
      run.op("store", p(0), "write") {
        if (stream) {
          run.call("ext.Similarity", "ivfIndexStreamDay")(Similarity.ivfIndexStreamDay(spark, vecs, d, annDir))
          run.call("ext.TextOps", "bm25IndexStreamDay")(TextOps.bm25IndexStreamDay(spark, docs, d, lexDir))
        } else {
          run.call("ext.Similarity", "ivfIndexStoreAppend")(Similarity.ivfIndexStoreAppend(spark, vecs, annDir))
          run.call("ext.TextOps", "bm25IndexAppend")(TextOps.bm25IndexAppend(spark, docs, lexDir))
        }
        2L * n // rows ingested, per store
      }(identity).foreach(_ => (p(1).toLong to p(2).toLong).foreach(born += _))
    case "tombstone" =>
      val victims = p.tail.map(_.toLong).filterNot(dead).toSeq
      if (victims.nonEmpty) {
        import spark.implicits._
        val d = day
        day += 1
        run.op("store", "tombstone", "write") {
          run.call("ext.Similarity", "ivfIndexStoreTombstone")(
            Similarity.ivfIndexStoreTombstone(spark, victims.toDF("vec_id"), annDir, d))
          run.call("ext.TextOps", "bm25IndexTombstone")(
            TextOps.bm25IndexTombstone(spark, victims.toDF("doc_id"), lexDir, d))
          2L * victims.size
        }(identity).foreach(_ => dead ++= victims)
        folded = false
      }
    case "compact" =>
      run.op("store", "compact", "write") {
        run.call("ext.Similarity", "ivfIndexStoreCompact")(Similarity.ivfIndexStoreCompact(spark, annDir))
        run.call("ext.TextOps", "bm25IndexCompact")(TextOps.bm25IndexCompact(spark, lexDir))
        0L
      }(identity).foreach(_ => folded = true)
  }

  private def bytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L) else f.length
    walk(new java.io.File(dir))
  }

  override def finish(run: Run): Unit = {
    run.extra("ops_executed") = next
    val endBytes = bytes(lexDir) + bytes(annDir)
    // ANN recall: the recall query set, top-10, against the live store
    val probe = Similarity.ivfIndexStoreProbe(spark, run.read("recall_vecs"), annDir, k = 10).collect()
    run.extra("recall_probe") = probe.toSeq.map(r =>
      Seq(r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    val hit = probe.map(_.getAs[Long]("neighbor_id")).filter(dead).distinct
    run.check("recall_probe: no tombstoned id", hit.isEmpty,
      s"the recall probe returned tombstoned ids ${hit.mkString(",")}")
    // fold days and tombstones, then check both stores' invariants
    if (!folded) {
      Similarity.ivfIndexStoreCompact(spark, annDir)
      TextOps.bm25IndexCompact(spark, lexDir)
    }
    def allOk(name: String, df: DataFrame): Unit = {
      val okCols = df.columns.filter(_.endsWith("_ok"))
      val bad = df.collect().count(r => okCols.exists(c => !r.getAs[Boolean](c)))
      run.check(s"$name.fsck", okCols.nonEmpty && bad == 0, s"$bad rows failed ${okCols.mkString(",")}")
    }
    allOk("ivf", Similarity.ivfIndexStoreFsck(spark, annDir))
    allOk("bm25", TextOps.bm25StoreFsck(spark, lexDir))
    // space amplification: bytes the live store held at the end of the
    // loop over the bytes of a fresh build of the same live rows
    val liveDocs = run.read("documents").unionByName(local(born.toSeq.sorted.map(newDocs), docSchema))
      .filter(!col("doc_id").isin(dead.toSeq: _*))
    val liveVecs = run.read("embeddings").unionByName(local(born.toSeq.sorted.map(newVecs), vecSchema))
      .filter(!col("vec_id").isin(dead.toSeq: _*))
    val fresh = s"${run.work}/fresh"
    TextOps.bm25IndexInit(liveDocs, s"$fresh/lex")
    Similarity.ivfIndexStoreInit(liveVecs, s"$fresh/ann")
    run.extra("store_bytes_end") = endBytes
    run.extra("store_bytes_fresh") = bytes(s"$fresh/lex") + bytes(s"$fresh/ann")
  }
}
