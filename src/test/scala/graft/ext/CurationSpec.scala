package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.SparkSpec

class CurationSpec extends AnyFunSuite with SparkSpec {

  val base = "the quick brown fox jumps over the lazy dog again and again today"
  val nearDup = "the quick brown fox jumps over the lazy dog again and again tonight"
  val other = "completely different words that share nothing with any other entry here"

  def docs(rows: (Long, String, String)*): DataFrame = {
    import spark.implicits._
    rows.map { case (id, t, u) => (id, t, "en", "src0", t.length.toLong, u) }
      .toDF("doc_id", "text", "lang", "source", "n_chars", "url")
  }

  test("curationFunnel plan contract: no WindowExec anywhere in the pipeline") {
    val d = graft.ext.TextOps.withSyntheticUrl(
      graft.Tables.documents(spark, "/root/testdata/sf0.001"))
    val f = Curation.curationFunnel(d, tokenBudget = 2000L)
    // the token-budget stage must come from the range-partitioned
    // two-pass global order, never a single-reducer Window sort — and
    // no other stage is allowed to smuggle one in. The frame is
    // persisted (scopeCaches); the cached plan inside InMemoryRelation
    // still prints the full operator pipeline.
    val plan = f.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"funnel must be window-free (two-pass global order):\n$plan")
    f.unpersist(false)
  }

  test("curationFunnel: each dedup stage drops exactly its planted victims") {
    // doc 4 aliases doc 1's page (URL stage), doc 2 repeats doc 1's text
    // (exact stage), doc 3 is the near-dup of doc 1 (jaccard stage)
    val d = docs(
      (1L, base, "HTTPS://Ex.COM:443/a?x=1&utm_source=z"),
      (2L, base, "https://ex.com/b?x=2"),
      (3L, nearDup, "https://ex.com/c?x=3"),
      (4L, other, "https://ex.com/a/?x=1#frag"),
      (5L, "tiny words", "https://ex.com/e?x=5"))
    // snapshot BEFORE: the session is shared across suites, so other
    // specs' caches may legitimately exist — assert only that the
    // funnel adds none of its own
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val out = Curation.curationFunnel(d)
    val funnel = out.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(funnel.map(_._1).toSeq === (0 to 6))
    val byStage = funnel.map(t => t._1 -> t).toMap
    assert(byStage(0)._3 === 5)
    assert(byStage(1)._3 === 4, "docs 1 and 4 share a canonical URL")
    assert(byStage(2)._3 === 3, "docs 1 and 2 share a text")
    assert(byStage(3)._3 === 2, "docs 1 and 3 are near-dups")
    // later stages are md5/classifier-dependent on this tiny bed — pin
    // only the invariants: subsets are monotone in docs AND tokens
    funnel.sliding(2).foreach {
      case Array((_, _, d1, t1), (_, _, d2, t2)) =>
        assert(d2 <= d1 && t2 <= t1)
      case _ =>
    }
    // the funnel releases every cache it pinned except the result
    out.unpersist(blocking = true)
    val leaked = spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, rdd) => cachedBefore.contains(id) ||
        rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE }
    assert(leaked.isEmpty, s"funnel leaked caches: ${leaked.values.map(_.name)}")
  }

  test("curationFunnel semantic stage: drops the planted paraphrase, vectorless docs pass") {
    import spark.implicits._
    val d = docs(
      (1L, base, "HTTPS://Ex.COM:443/a?x=1&utm_source=z"),
      (2L, base, "https://ex.com/b?x=2"),
      (3L, nearDup, "https://ex.com/c?x=3"),
      (4L, other, "https://ex.com/a/?x=1#frag"),
      (5L, "tiny words", "https://ex.com/e?x=5"))
    // s3 survivors on this bed are docs {1, 5} (pinned by the planted-
    // victims test above). Same-direction vectors = the "paraphrase"
    // token overlap can't see: the semantic stage must drop the
    // HIGHER-id survivor.
    def embTab(rows: (Long, Seq[Float])*) =
      rows.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label")
    val semDup = embTab(1L -> Seq(1f, 0f, 0f, 0f), 5L -> Seq(2f, 0f, 0f, 0f))
    val out1 = Curation.curationFunnel(d, embeddings = Some(semDup))
    val f1 = out1.collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    out1.unpersist(false)
    assert(f1("near_dup") === 2 && f1("semantic_dedup") === 1,
      "the same-direction higher-id survivor must drop at the semantic stage")
    // a doc with NO vector (or an orthogonal one) passes untouched —
    // absence of semantic signal is not a duplicate verdict
    val orthOnly = embTab(5L -> Seq(0f, 1f, 0f, 0f))
    val out2 = Curation.curationFunnel(d, embeddings = Some(orthOnly))
    val f2 = out2.collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    out2.unpersist(false)
    assert(f2("semantic_dedup") === 2, "no vector / no neighbor -> no drop")
    // stage numbering: 8 rows with the semantic stage, 7 without
    assert(f1.size === 8 && f2.size === 8)
    val out0 = Curation.curationFunnel(d)
    assert(out0.collect().length === 7, "no embeddings -> the original funnel")
    out0.unpersist(false)
  }

  test("multimodalFunnel: monotone stages, each gate drops exactly its planted victims") {
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val d = TextOps.withSyntheticDupText(WebOps.withSyntheticMessyUrl(base))
    val media = Multimodal.syntheticPngSkewed(spark, base)
    val out = Curation.multimodalFunnel(spark, d, media)
    val rows = out.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq === (0 to 5))
    // survivors never grow, tokens track docs
    rows.sliding(2).foreach {
      case Array(a, b) => assert(b._3 <= a._3 && b._4 <= a._4)
      case _ =>
    }
    val n = base.count()
    assert(rows(0)._3 === n)
    // stage 1 drops exactly the planted flat images (doc_id % 4 == 0)
    assert(rows(1)._3 === (0L until n).count(_ % 4 != 0))
    // every stage does real work on this bed
    rows.sliding(2).foreach {
      case Array(a, b) => assert(b._3 < a._3, s"stage ${b._2} dropped nothing")
      case _ =>
    }
    // no global window anywhere (two-pass/components machinery only)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"funnel must be window-free:\n$plan")
    out.unpersist(blocking = true)
  }

  test("multimodalFunnel with videos: gate and near-dup stages agree with the standalone operators") {
    import org.apache.spark.sql.functions.col
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val d = TextOps.withSyntheticDupText(WebOps.withSyntheticMessyUrl(base))
    val media = Multimodal.syntheticPngSkewed(spark, base)
    val vclu = Multimodal.syntheticVideoClusters(spark, base, nClusters = 37)
    val out = Curation.multimodalFunnel(spark, d, media, videos = Some(vclu))
    val rows = out.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    out.unpersist(false)
    assert(rows.map(_._1).toSeq === (0 to 6))
    assert(rows.map(_._2).toSeq === Seq("input", "junk_media", "url_dedup",
      "exact_dedup", "image_neardup", "video_neardup", "quality"))
    rows.sliding(2).foreach {
      case Array(a, b) => assert(b._3 <= a._3 && b._4 <= a._4)
      case _ =>
    }
    // the clusters corpus has no static clips -> the video gate passes
    // everyone and stages 0-4 equal the video-less funnel exactly
    val base0 = Curation.multimodalFunnel(spark, d, media)
    val b0 = base0.collect().map(r => r.getInt(0) -> (r.getLong(2), r.getLong(3))).toMap
    base0.unpersist(false)
    (0 to 4).foreach(i =>
      assert((rows(i)._3, rows(i)._4) === b0(i), s"stage $i must match"))
    // the video stage does real work: the mod-37 video groups cut
    // across the mod-50 image groups, so image dedup leaves >37
    // survivors sharing video clusters
    assert(rows(5)._3 < rows(4)._3, "video_neardup must drop planted cluster members")
    // and the junk corpus exercises the STATIC gate independently of
    // the flat-image gate: with cluster images (no flats), stage 1
    // drops exactly the static clips
    val pclu = Multimodal.syntheticPngClusters(spark, base)
    val vjunk = Multimodal.syntheticVideoJunk(spark, base)
    val flatIds = Multimodal.imageStatsDhash(spark, pclu)
      .filter(col("is_flat")).select("doc_id").collect().map(_.getLong(0)).toSet
    val staticIds = Multimodal.videoStatsPhash(spark, vjunk)
      .filter(col("is_static")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert((staticIds -- flatIds).nonEmpty,
      "fixture bed: the video gate must have victims of its own")
    val out2 = Curation.multimodalFunnel(spark, d, pclu, videos = Some(vjunk))
    val s1count = out2.collect().find(_.getInt(0) == 1).get.getLong(2)
    out2.unpersist(false)
    assert(s1count === base.count() - (flatIds ++ staticIds).size,
      "junk_media must drop exactly flat images ∪ static clips")
  }

  test("curationReport: one explainable row per doc; flags agree with the standalone gates") {
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val d = TextOps.withSyntheticDupText(WebOps.withSyntheticMessyUrl(base))
    val media = Multimodal.syntheticPngSkewed(spark, base)
    val rows = Curation.curationReport(spark, d, media).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6))).toMap
    assert(rows.size === base.count())
    // planted-fixture flags
    rows.foreach { case (id, (urlDup, textDup, _, flatImage, _, keep)) =>
      assert(urlDup === (id >= 100), s"doc $id url_dup")
      assert(textDup === (id % 7 == 3 && id >= 1), s"doc $id text_dup")
      assert(flatImage === (id % 4 == 0), s"doc $id flat_image")
      val (u, t, i, f, q, _) = rows(id)
      assert(keep === (!u && !t && !i && !f && q), s"doc $id keep conjunction")
    }
    // image_dup and quality_kept agree with the standalone operators
    val labels = Multimodal.imageClusters(spark, media).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val kept = TextOps.classifierQualityScore(d).collect()
      .filter(_.getAs[Int]("kept") == 1).map(_.getAs[Long]("doc_id")).toSet
    rows.foreach { case (id, (_, _, imageDup, _, qualityKept, _)) =>
      assert(imageDup === labels.get(id).exists(_ < id), s"doc $id image_dup")
      assert(qualityKept === kept.contains(id), s"doc $id quality_kept")
    }
    // the report is informative on this bed: both keep values occur
    assert(rows.values.exists(_._6) && rows.values.exists(!_._6))
  }

  test("crossModalDedup: the three planted duplicate classes land in their own flags") {
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val d = TextOps.withSyntheticDupText(WebOps.withSyntheticMessyUrl(base))
    val media = Multimodal.syntheticPngClusters(spark, base)
    val rows = Curation.crossModalDedup(spark, d, media).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4)))
    assert(rows.length === base.count())
    rows.foreach { case (id, urlDup, textDup, imageDup, keep) =>
      // messy-URL fixture: canonical form depends only on doc_id % 100,
      // so the min-id representative of each group is the residue itself
      assert(urlDup === (id >= 100), s"doc $id url_dup")
      // dup-text fixture: every id % 7 == 3 doc takes its predecessor's
      // original text (and no donor ever donated its own text away —
      // consecutive ids can't both be ≡ 3 mod 7)
      assert(textDup === (id % 7 == 3 && id >= 1), s"doc $id text_dup")
      // PNG cluster fixture: every same-residue-50 pair is a perceptual
      // dup, so the cluster representative is the residue itself
      assert(imageDup === (id >= 50), s"doc $id image_dup")
      assert(keep === !(urlDup || textDup || imageDup), s"doc $id keep")
    }
    // composition consistency: the verdict agrees with the standalone
    // operators it claims to compose
    val urlReps = WebOps.urlDedup(d).collect()
      .map(_.getAs[Long]("keep_doc")).toSet
    val textReps = Dedup.exactDedup(d).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val imgLabels = Multimodal.imageClusters(spark, media).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    rows.foreach { case (id, urlDup, textDup, imageDup, _) =>
      assert(urlDup === !urlReps.contains(id), s"doc $id vs urlDedup")
      assert(textDup === !textReps.contains(id), s"doc $id vs exactDedup")
      assert(imageDup === imgLabels.get(id).exists(_ < id), s"doc $id vs imageClusters")
    }
  }

  test("mediaCurationReport: every modality's gates and dedup classes land in their flags") {
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val d = TextOps.withSyntheticDupText(WebOps.withSyntheticMessyUrl(base))
    val images = Multimodal.syntheticPngSkewed(spark, base)
    val audios = Multimodal.syntheticWavSkewed(spark, base)
    val videos = Multimodal.syntheticVideoJunk(spark, base)
    val rows = Curation.mediaCurationReport(spark, d, images, audios, videos)
      .collect()
      .map(r => r.getLong(0) -> (1 to 10).map(r.getBoolean).toVector).toMap
    assert(rows.size === base.count())
    rows.foreach { case (id, flags) =>
      val Vector(urlDup, textDup, _, flatImage, _, quietAudio,
        _, staticVideo, qualityKept, keep) = flags
      assert(urlDup === (id >= 100), s"doc $id url_dup")
      assert(textDup === (id % 7 == 3 && id >= 1), s"doc $id text_dup")
      // the three junk gates share the %4 fixture rule — a doc whose
      // image is flat also carries silent audio and a static video
      assert(flatImage === (id % 4 == 0), s"doc $id flat_image")
      assert(quietAudio === (id % 4 == 0), s"doc $id quiet_audio")
      assert(staticVideo === (id % 4 == 0), s"doc $id static_video")
      assert(keep === (flags.slice(0, 8).forall(!_) && qualityKept),
        s"doc $id keep conjunction")
    }
    // the dedup flags agree with the standalone cluster operators
    val imgLabels = Multimodal.imageClusters(spark, images).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val audLabels = Multimodal.audioClusters(spark, audios).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val vidLabels = Multimodal.videoClusters(spark, videos).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    rows.foreach { case (id, flags) =>
      assert(flags(2) === imgLabels.get(id).exists(_ < id), s"doc $id image_dup")
      assert(flags(4) === audLabels.get(id).exists(_ < id), s"doc $id audio_dup")
      assert(flags(6) === vidLabels.get(id).exists(_ < id), s"doc $id video_dup")
    }
    // informative on this bed: both keep values occur
    assert(rows.values.exists(_.last) && rows.values.exists(!_.last))
  }

  test("audit plan contracts: media payloads are never shuffle keys; no window anywhere") {
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val d = TextOps.withSyntheticDupText(WebOps.withSyntheticMessyUrl(base))
    val imgs = Multimodal.syntheticPngSkewed(spark, base)
    val auds = Multimodal.syntheticWavSkewed(spark, base)
    val vids = Multimodal.syntheticVideoJunk(spark, base)
    def check(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      val parts = "hashpartitioning\\(([^)]*)\\)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(parts.forall(!_.contains("payload")),
        s"$name: payload must never be a shuffle key:\n$parts")
      assert(!plan.contains("WindowExec"),
        s"$name: no window operator expected:\n$plan")
      df.unpersist(false)
      ()
    }
    check(Curation.mediaCurationReport(spark, d, imgs, auds, vids),
      "mediaCurationReport")
    val stored = org.apache.spark.sql.functions.col("doc_id") % 50 < 25
    check(Curation.mediaIngestAudit(spark,
      imgs.filter(!stored), auds.filter(!stored), vids.filter(!stored),
      Multimodal.imageDhash(spark, imgs.filter(stored)),
      Multimodal.audioEhash(spark, auds.filter(stored)),
      Multimodal.videoPhash(spark, vids.filter(stored))
        .select("doc_id", "slot", "dhash")), "mediaIngestAudit")
  }

  test("production (capped) compositions never flag more than the guard-off oracle shape") {
    // the _prod driver variants run with the auto band-bucket cap ON;
    // the cap only REMOVES candidate pairs, so every production dup
    // flag must be a subset of the guard-off (oracle-matched) flags,
    // and the decode-derived junk/quality gates must be identical
    import org.apache.spark.sql.functions.col
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val d = TextOps.withSyntheticDupText(WebOps.withSyntheticMessyUrl(base))
    val imgs = Multimodal.syntheticPngSkewed(spark, base)
    val auds = Multimodal.syntheticWavSkewed(spark, base)
    val vids = Multimodal.syntheticVideoJunk(spark, base)
    def flags(df: DataFrame, cols: Seq[String]): Map[String, Set[Long]] = {
      val rows = df.collect()
      df.unpersist(false)
      cols.map(c => c -> rows.filter(_.getAs[Boolean](c)).map(_.getLong(0)).toSet)
        .toMap
    }
    val dupCols = Seq("image_dup", "audio_dup", "video_dup")
    val gateCols = Seq("url_dup", "text_dup", "flat_image", "quiet_audio",
      "static_video", "quality_kept")
    val prod = flags(Curation.mediaCurationReport(spark, d, imgs, auds, vids),
      dupCols ++ gateCols)
    val oracle = flags(Curation.mediaCurationReport(spark, d, imgs, auds, vids,
      maxBandBucket = 0), dupCols ++ gateCols)
    dupCols.foreach { c =>
      assert(prod(c).subsetOf(oracle(c)),
        s"$c: prod-only docs ${(prod(c) -- oracle(c)).toSeq.sorted.take(5)}")
    }
    gateCols.foreach(c => assert(prod(c) === oracle(c), s"$c must not depend on the cap"))
    // the ingest audit: same subset law per dup column
    val stored = col("doc_id") % 50 < 25
    def audit(cap: Int) = Curation.mediaIngestAudit(spark,
      imgs.filter(!stored), auds.filter(!stored), vids.filter(!stored),
      Multimodal.imageDhash(spark, imgs.filter(stored)),
      Multimodal.audioEhash(spark, auds.filter(stored)),
      Multimodal.videoPhash(spark, vids.filter(stored))
        .select("doc_id", "slot", "dhash"),
      maxBandBucket = cap)
    val aCols = Seq("image_dup_stored", "image_dup_new", "audio_dup_stored",
      "audio_dup_new", "video_dup_stored", "video_dup_new")
    val aProd = flags(audit(-1), aCols)
    val aOracle = flags(audit(0), aCols)
    aCols.foreach { c =>
      assert(aProd(c).subsetOf(aOracle(c)),
        s"audit $c: prod-only docs ${(aProd(c) -- aOracle(c)).toSeq.sorted.take(5)}")
    }
    // the funnel: per-stage survivor counts — identical through the
    // capped stage's predecessors, never smaller at or after it
    // (the registered shape carries the video stage, so pin that form:
    // stages 0-3 are cap-free, 4 and 5 are the banded joins, 6 follows)
    val vclu = Multimodal.syntheticVideoClusters(spark, base, nClusters = 37)
    def funnelCounts(cap: Int): Map[Int, Long] = {
      val f = Curation.multimodalFunnel(spark, d, imgs, maxBandBucket = cap,
        videos = Some(vclu))
      val m = f.collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      f.unpersist(false); m
    }
    val fProd = funnelCounts(-1)
    val fOracle = funnelCounts(0)
    (0 to 3).foreach(i => assert(fProd(i) === fOracle(i), s"stage $i pre-cap"))
    (4 to 6).foreach(i => assert(fProd(i) >= fOracle(i),
      s"stage $i: the cap can only drop dup pairs, never survivors"))
  }

  test("mediaIngestAudit chain: three chained days keep exactly what one batch keeps") {
    // the operational loop the audit exists for: each day's KEPT docs'
    // fingerprints fold into the stored tables, so a day-N arrival that
    // duplicates a day-1 kept exemplar is dropped as dup_stored — and
    // the end-to-end kept set must equal auditing all arrivals as ONE
    // batch against the initial store (doc_ids are arrival-ordered, so
    // min-id-wins picks the same exemplars in both regimes; only the
    // stored-vs-new CLASSIFICATION of a cross-day dup legitimately
    // differs)
    import org.apache.spark.sql.functions.col
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val imgs = Multimodal.syntheticPngSkewed(spark, base)
    val auds = Multimodal.syntheticWavSkewed(spark, base)
    val vids = Multimodal.syntheticVideoJunk(spark, base)
    def hashes(sel: DataFrame => DataFrame): (DataFrame, DataFrame, DataFrame) = (
      Multimodal.imageDhash(spark, sel(imgs)),
      Multimodal.audioEhash(spark, sel(auds)),
      Multimodal.videoPhash(spark, sel(vids)).select("doc_id", "slot", "dhash"))
    // initial store covers only cluster residues 0-29: residues 30-49
    // have NO stored exemplar, so their first arrival is kept and later
    // same-cluster arrivals exercise the fold (dup-of-kept), not just
    // dup-of-initial-store
    def initStore(m: DataFrame) = m.filter(col("doc_id") < 30)
    var (sI, sA, sV) = hashes(initStore)
    val days = Seq((30L, 200L), (200L, 350L), (350L, 500L))
    var chainKept = Set.empty[Long]
    val dupStoredChained = scala.collection.mutable.ArrayBuffer[Long]()
    val dupStoredVsInit = scala.collection.mutable.ArrayBuffer[Long]()
    for ((lo, hi) <- days) {
      def day(m: DataFrame) = m.filter(col("doc_id") >= lo && col("doc_id") < hi)
      val audit = Curation.mediaIngestAudit(spark, day(imgs), day(auds), day(vids),
        sI, sA, sV, maxBandBucket = 0)
      val rows = audit.collect()
      audit.unpersist(false)
      val kept = rows.filter(_.getAs[Boolean]("keep")).map(_.getLong(0)).toSet
      chainKept ++= kept
      dupStoredChained += rows.count(r => r.getAs[Boolean]("image_dup_stored"))
      // the same day against the INITIAL store only — the delta is the
      // dup-of-kept-exemplar mass only the fold can catch
      val (iI, iA, iV) = hashes(initStore)
      val vsInit = Curation.mediaIngestAudit(spark, day(imgs), day(auds), day(vids),
        iI, iA, iV, maxBandBucket = 0)
      dupStoredVsInit += vsInit.collect()
        .count(r => r.getAs[Boolean]("image_dup_stored"))
      vsInit.unpersist(false)
      val keptSeq = kept.toSeq
      def keptOnly(m: DataFrame) = m.filter(col("doc_id").isin(keptSeq: _*))
      val (kI, kA, kV) = hashes(keptOnly)
      sI = sI.unionByName(kI); sA = sA.unionByName(kA); sV = sV.unionByName(kV)
    }
    val (bI, bA, bV) = hashes(initStore)
    def arrivals(m: DataFrame) = m.filter(col("doc_id") >= 30)
    val batch = Curation.mediaIngestAudit(spark,
      arrivals(imgs), arrivals(auds), arrivals(vids), bI, bA, bV,
      maxBandBucket = 0)
    val batchKept = batch.filter(col("keep")).collect().map(_.getLong(0)).toSet
    batch.unpersist(false)
    assert(chainKept === batchKept,
      s"chained ingest must keep exactly the one-batch kept set " +
        s"(chain-only: ${(chainKept -- batchKept).toSeq.sorted.take(10)}, " +
        s"batch-only: ${(batchKept -- chainKept).toSeq.sorted.take(10)})")
    assert(chainKept.nonEmpty && chainKept.size < 470, "informative bed")
    // the fold did real work: on day 2+ some arrival was dropped as a
    // stored-dup of a KEPT exemplar the initial store never contained
    assert((1 until days.size).exists(d => dupStoredChained(d) > dupStoredVsInit(d)),
      s"no day-2+ arrival was caught by a folded exemplar " +
        s"(chained=$dupStoredChained vsInit=$dupStoredVsInit)")
  }

  test("ingestDayFold: the packaged day loop replays the manual chain, store on parquet") {
    // the one-call form of the chain test above: audit + fold kept
    // fingerprints into the parquet store, three days — per-day keeps
    // must equal the manual chained audits', the store must hold
    // exactly initial ∪ kept fingerprints, and the fold must never
    // re-decode (hashes come from the audit's own fused stats)
    import org.apache.spark.sql.functions.col
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val imgs = Multimodal.syntheticPngSkewed(spark, base)
    val auds = Multimodal.syntheticWavSkewed(spark, base)
    val vids = Multimodal.syntheticVideoJunk(spark, base)
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_ingest_store").toString
    def initStore(m: DataFrame) = m.filter(col("doc_id") < 30)
    Curation.ingestStoreInit(spark, storeDir,
      Multimodal.imageDhash(spark, initStore(imgs)),
      Multimodal.audioEhash(spark, initStore(auds)),
      Multimodal.videoPhash(spark, initStore(vids))
        .select("doc_id", "slot", "dhash"))
    // manual chain for comparison (same arithmetic as the chain test)
    var (mI, mA, mV) = (
      Multimodal.imageDhash(spark, initStore(imgs)),
      Multimodal.audioEhash(spark, initStore(auds)),
      Multimodal.videoPhash(spark, initStore(vids))
        .select("doc_id", "slot", "dhash"))
    var foldKept = Set.empty[Long]
    for ((lo, hi) <- Seq((30L, 200L), (200L, 350L), (350L, 500L))) {
      def day(m: DataFrame) = m.filter(col("doc_id") >= lo && col("doc_id") < hi)
      val folded = Curation.ingestDayFold(spark,
        day(imgs), day(auds), day(vids), storeDir, maxBandBucket = 0)
      val foldRows = folded.collect()
      folded.unpersist(false)
      val manual = Curation.mediaIngestAudit(spark,
        day(imgs), day(auds), day(vids), mI, mA, mV, maxBandBucket = 0)
      val manualRows = manual.collect()
      manual.unpersist(false)
      assert(foldRows.map(_.toSeq).toSet === manualRows.map(_.toSeq).toSet,
        s"day [$lo,$hi) fold ≠ manual audit")
      val kept = foldRows.filter(_.getAs[Boolean]("keep")).map(_.getLong(0)).toSet
      foldKept ++= kept
      val keptSeq = kept.toSeq
      def keptOnly(m: DataFrame) = m.filter(col("doc_id").isin(keptSeq: _*))
      mI = mI.unionByName(Multimodal.imageDhash(spark, keptOnly(imgs)))
      mA = mA.unionByName(Multimodal.audioEhash(spark, keptOnly(auds)))
      mV = mV.unionByName(Multimodal.videoPhash(spark, keptOnly(vids))
        .select("doc_id", "slot", "dhash"))
    }
    // the parquet store holds exactly initial ∪ kept fingerprints
    val (sI, _, sV) = Curation.ingestReadStore(spark, storeDir)
    val storedIds = sI.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(storedIds === ((0L until 30L).toSet ++ foldKept))
    // video store: kept docs only, 4 slots per stored video (none of
    // the junk fixture's videos is zero-frame)
    val vByDoc = sV.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(vByDoc.keySet === storedIds)
    assert(vByDoc.values.forall(_ === 4L))
  }

  test("ingestDayFold cold start: empty store seed, day 1 dedups in-batch only") {
    import org.apache.spark.sql.functions.col
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    def day1(m: DataFrame) = m.filter(col("doc_id") < 120)
    val imgs = Multimodal.syntheticPngSkewed(spark, base)
    val auds = Multimodal.syntheticWavSkewed(spark, base)
    val vids = Multimodal.syntheticVideoJunk(spark, base)
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_ingest_cold").toString
    import org.apache.spark.sql.functions.lit
    val emptyIds = base.limit(0)
    Curation.ingestStoreInit(spark, storeDir,
      emptyIds.select(col("doc_id"), lit(0L).as("dhash")).limit(0),
      emptyIds.select(col("doc_id"), lit(0L).as("ehash")).limit(0),
      emptyIds.select(col("doc_id"), lit(0).as("slot"),
        lit(0L).as("dhash")).limit(0))
    val audit = Curation.ingestDayFold(spark,
      day1(imgs), day1(auds), day1(vids), storeDir, maxBandBucket = 0)
    val rows = audit.collect()
    audit.unpersist(false)
    assert(rows.length === 120)
    // no stored content exists, so nothing is a stored-dup on day 1
    assert(rows.forall(r => !r.getAs[Boolean]("image_dup_stored") &&
      !r.getAs[Boolean]("audio_dup_stored") && !r.getAs[Boolean]("video_dup_stored")))
    // in-batch dedup still fires (the planted flat mass shares hashes)
    assert(rows.exists(_.getAs[Boolean]("image_dup_new")))
    // the store now holds exactly day 1's kept fingerprints
    val kept = rows.filter(_.getAs[Boolean]("keep")).map(_.getLong(0)).toSet
    val (sI, _, _) = Curation.ingestReadStore(spark, storeDir)
    assert(sI.select("doc_id").collect().map(_.getLong(0)).toSet === kept)
  }

  test("mediaIngestAudit: zero-frame videos are never video duplicates of each other") {
    // two undecodable (zero-frame) videos in one batch both carry the
    // empty slot signature — the batch twin (videoPhash emits no slots)
    // and videoDedupStream (emits nothing) never pair them, so the
    // audit must not either: grouping by the raw sig array would form
    // an empty-sig group and flag the higher id video_dup_new
    import org.apache.spark.sql.functions.{col, lit, struct}
    import spark.implicits._
    def vid(id: Long, frames: Seq[Array[Byte]]) =
      (id, Multimodal.VideoCodec.encode(12, frames))
    val realFrames = (0 until 6).map(f =>
      Multimodal.PngCodec.encode(8, 8, (x, y) => (x * 37 + y * 59 + f * 97) % 256))
    val newVids = Seq(
      vid(1000L, Seq.empty), vid(1001L, Seq.empty), // both undecodable
      vid(1002L, realFrames))
      .toDF("doc_id", "payload")
      .select(col("doc_id"), col("payload"),
        struct(lit("video/gvid").as("media_type"), lit(0).as("n_frames"),
          col("doc_id").as("source_id")).as("meta"))
    // minimal image/audio sides so the audit's three-way join keeps rows
    val imgs = newVids.select(col("doc_id"),
      lit(Multimodal.PngCodec.encode(8, 8, (x, y) => x * 41 + y * 3)).as("payload"),
      col("meta"))
    val auds = newVids.select(col("doc_id"),
      lit(Multimodal.WavCodec.encode(8000f,
        (0 until 1600).map(i => ((i * librarySeed) % 9973 - 4986).toShort).toArray))
        .as("payload"),
      col("meta"))
    val emptyI = imgs.limit(0).select(col("doc_id"),
      lit(0L).as("dhash")).limit(0)
    val emptyA = emptyI.withColumnRenamed("dhash", "ehash")
    val emptyV = imgs.limit(0).select(col("doc_id"), lit(0).as("slot"),
      lit(0L).as("dhash")).limit(0)
    val audit = Curation.mediaIngestAudit(spark, imgs, auds, newVids,
      emptyI, emptyA, emptyV, maxBandBucket = 0)
    val rows = audit.collect().map(r => r.getLong(0) ->
      (r.getAs[Boolean]("video_dup_stored"), r.getAs[Boolean]("video_dup_new")))
      .toMap
    audit.unpersist(false)
    assert(rows.size === 3, "every new doc keeps its audit row")
    assert(rows(1000L) === ((false, false)), "zero-frame doc 1000 not a dup")
    assert(rows(1001L) === ((false, false)),
      "zero-frame doc 1001 must not be flagged dup of the other zero-frame doc")
    assert(rows(1002L) === ((false, false)), "lone real video not a dup")
  }

  private val librarySeed = 17

  test("composition cache hygiene: every media composition releases all its intermediates") {
    // the compositions persist fused-stats / cluster / verdict / pair
    // frames internally; a long-lived session (streaming daily loop,
    // stress sweeps) calls them repeatedly, so anything left
    // cached after the result is released is a leak that accumulates
    import org.apache.spark.sql.functions.col
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val d = TextOps.withSyntheticDupText(WebOps.withSyntheticMessyUrl(base))
    val imgs = Multimodal.syntheticPngSkewed(spark, base)
    val auds = Multimodal.syntheticWavSkewed(spark, base)
    val vids = Multimodal.syntheticVideoJunk(spark, base)
    val stored = col("doc_id") % 50 < 25
    val storedI = Multimodal.imageDhash(spark, imgs.filter(stored))
    val storedA = Multimodal.audioEhash(spark, auds.filter(stored))
    val storedV = Multimodal.videoPhash(spark, vids.filter(stored))
      .select("doc_id", "slot", "dhash")
    def assertNoLeak(name: String)(run: => DataFrame): Unit = {
      // other suites share the session; assert only that THIS call
      // adds no still-persisted RDDs of its own
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = run
      out.count()
      out.unpersist(blocking = true)
      val leaked = spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, rdd) => before.contains(id) ||
          rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE }
      assert(leaked.isEmpty,
        s"$name leaked caches: ${leaked.values.map(_.name).mkString(", ")}")
    }
    assertNoLeak("multimodalFunnel")(Curation.multimodalFunnel(spark, d, imgs))
    assertNoLeak("curationReport")(Curation.curationReport(spark, d, imgs))
    assertNoLeak("crossModalDedup")(Curation.crossModalDedup(spark, d, imgs))
    assertNoLeak("mediaCurationReport")(
      Curation.mediaCurationReport(spark, d, imgs, auds, vids))
    assertNoLeak("mediaIngestAudit")(Curation.mediaIngestAudit(spark,
      imgs.filter(!stored), auds.filter(!stored), vids.filter(!stored),
      storedI, storedA, storedV))
  }

  test("mediaIngestAudit: per-new-doc verdicts agree with the standalone incrementals") {
    import org.apache.spark.sql.functions.col
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val stored = col("doc_id") % 50 < 25
    val imgs = Multimodal.syntheticPngSkewed(spark, base)
    val auds = Multimodal.syntheticWavSkewed(spark, base)
    val vids = Multimodal.syntheticVideoJunk(spark, base)
    val storedI = Multimodal.imageDhash(spark, imgs.filter(stored))
    val storedA = Multimodal.audioEhash(spark, auds.filter(stored))
    val storedV = Multimodal.videoPhash(spark, vids.filter(stored))
      .select("doc_id", "slot", "dhash")
    // guard off, as on the oracle path: the auto cap would drop the
    // planted flat mass's cross pairs and flatten flag diversity
    val audit = Curation.mediaIngestAudit(spark,
      imgs.filter(!stored), auds.filter(!stored), vids.filter(!stored),
      storedI, storedA, storedV, maxBandBucket = 0).collect()
      .map(r => r.getLong(0) -> (1 to 10).map(r.getBoolean).toVector).toMap
    assert(audit.keySet.forall(_ % 50 >= 25), "new docs only")
    // image flags replay the standalone incremental's pair classes
    val ip = Multimodal.imageNearDupIncremental(spark, imgs.filter(!stored), storedI,
      maxBandBucket = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    val iCross = ip.filter(_._3).flatMap(p => Seq(p._1, p._2))
      .filter(_ % 50 >= 25).toSet
    val iNew = ip.filter(!_._3).map(_._2).toSet
    audit.foreach { case (id, flags) =>
      assert(flags(0) === iCross.contains(id), s"doc $id image_dup_stored")
      assert(flags(1) === iNew.contains(id), s"doc $id image_dup_new")
      assert(flags(2) === (id % 4 == 0), s"doc $id flat_image")
      assert(flags.last === (flags.slice(0, 9).forall(!_)), s"doc $id keep")
    }
    // both values occur for every flag on this bed (informative fixture)
    (0 until 10).foreach { i =>
      assert(audit.values.exists(_(i)) && audit.values.exists(!_(i)),
        s"flag $i must vary")
    }
  }

  test("ingestStoreCompact: distinct min-id exemplars; audit invariant; idempotent") {
    import org.apache.spark.sql.functions.{col, min}
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val imgs = Multimodal.syntheticPngSkewed(spark, base)
    val auds = Multimodal.syntheticWavSkewed(spark, base)
    val vids = Multimodal.syntheticVideoJunk(spark, base)
    // stored = even ids: the skewed fixtures plant identical-fingerprint
    // mass there (every flat image shares one dhash, static videos
    // share signatures), so the raw store carries real redundancy
    val stored = col("doc_id") % 2 === 0
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_store_compact").toString
    Curation.ingestStoreInit(spark, storeDir,
      Multimodal.imageDhash(spark, imgs.filter(stored)),
      Multimodal.audioEhash(spark, auds.filter(stored)),
      Multimodal.videoPhash(spark, vids.filter(stored))
        .select("doc_id", "slot", "dhash"))
    def audit(): Set[Seq[Any]] = {
      val (sI, sA, sV) = Curation.ingestReadStore(spark, storeDir)
      val a = Curation.mediaIngestAudit(spark,
        imgs.filter(!stored), auds.filter(!stored), vids.filter(!stored),
        sI, sA, sV, maxBandBucket = 0)
      val r = a.collect().map(_.toSeq).toSet
      a.unpersist(false); r
    }
    val verdictsBefore = audit()
    val (rawI, _, _) = Curation.ingestReadStore(spark, storeDir)
    val rawRows = rawI.count()
    val exemplars = rawI.groupBy("dhash").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id", "dhash").collect().map(_.toSeq).toSet
    assert(exemplars.size < rawRows,
      "the fixture must plant duplicate stored fingerprints")
    val counts = Curation.ingestStoreCompact(spark, storeDir)
    assert(counts("image") === ((rawRows, exemplars.size.toLong)),
      s"image compaction counts: ${counts("image")}")
    assert(counts.values.forall { case (b, a) => a <= b && a > 0 })
    // what remains is exactly the min-id exemplar per fingerprint —
    // the frame every audit collapses the stored side to anyway
    val (cI, _, cV) = Curation.ingestReadStore(spark, storeDir)
    assert(cI.select("doc_id", "dhash").collect().map(_.toSeq).toSet === exemplars)
    // video exemplars keep whole signatures: every surviving doc still
    // carries its full slot set
    val slotsPerDoc = cV.groupBy("doc_id").count()
      .select("count").distinct().collect().map(_.getLong(0)).toSet
    assert(slotsPerDoc === Set(4L), s"intact signatures, got $slotsPerDoc")
    assert(audit() === verdictsBefore,
      "compaction must not change any audit verdict")
    val again = Curation.ingestStoreCompact(spark, storeDir)
    assert(again.values.forall { case (b, a) => b === a },
      s"second compaction must be a no-op: $again")
  }

  test("storeSwapRecover: every compactRewrite crash state restores a live store") {
    import org.apache.hadoop.fs.Path
    val base = java.nio.file.Files
      .createTempDirectory("graft_swap_recover").toString
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(s"$base/store")
    val staging = new Path(base, ".store.compact-staging")
    val old = new Path(base, ".store.compact-old")
    def write(p: Path, ids: Seq[Long]): Unit = {
      import spark.implicits._
      ids.toDF("id").repartition(1).write.mode("overwrite").parquet(p.toString)
    }
    def readIds(): Set[Long] = spark.read.parquet(target.toString)
      .collect().map(_.getLong(0)).toSet
    def clean(): Unit =
      Seq(target, staging, old).foreach(fs.delete(_, true))

    // live target is authoritative whatever siblings a crash left
    write(target, Seq(1L, 2L)); write(staging, Seq(9L)); write(old, Seq(8L))
    assert(Curation.storeSwapRecover(spark, target.toString) === "live")
    assert(readIds() === Set(1L, 2L))
    assert(!fs.exists(staging) && !fs.exists(old), "stale siblings removed")

    // crash BETWEEN the two renames, staged write committed: adopt it
    clean(); write(old, Seq(1L, 2L)); write(staging, Seq(1L))
    assert(fs.exists(new Path(staging, "_SUCCESS")),
      "parquet commit must write the _SUCCESS marker this state keys on")
    assert(Curation.storeSwapRecover(spark, target.toString)
      === "recovered-staging")
    assert(readIds() === Set(1L), "the compacted content becomes live")
    assert(!fs.exists(staging) && !fs.exists(old))
    // terminal states are idempotent
    assert(Curation.storeSwapRecover(spark, target.toString) === "live")

    // same window but the staged write never committed: roll back
    clean(); write(old, Seq(1L, 2L)); write(staging, Seq(1L))
    fs.delete(new Path(staging, "_SUCCESS"), false)
    assert(Curation.storeSwapRecover(spark, target.toString)
      === "recovered-old")
    assert(readIds() === Set(1L, 2L), "the pre-compaction content survives")
    assert(!fs.exists(staging))

    // nothing anywhere — recovery reports it, compactRewrite raises
    clean()
    assert(Curation.storeSwapRecover(spark, target.toString) === "absent")
    intercept[java.io.IOException] {
      Curation.compactRewrite(spark, target.toString, identity)
    }

    // end-to-end: a compaction retry over a mid-swap media store
    // self-heals at entry instead of failing on the missing target
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val storeDir = s"$base/media"
    Curation.ingestStoreInit(spark, storeDir,
      Multimodal.imageDhash(spark, Multimodal.syntheticPngSkewed(spark, docs)),
      Multimodal.audioEhash(spark, Multimodal.syntheticWavSkewed(spark, docs)),
      Multimodal.videoPhash(spark, Multimodal.syntheticVideoJunk(spark, docs))
        .select("doc_id", "slot", "dhash"))
    val first = Curation.ingestStoreCompact(spark, storeDir)
    val imageExemplars = first("image")._2
    fs.rename(new Path(s"$storeDir/image"),
      new Path(storeDir, ".image.compact-old"))
    assert(Curation.ingestStoreRecover(spark, storeDir)
      === Map("image" -> "recovered-old", "audio" -> "live", "video" -> "live"))
    val retry = Curation.ingestStoreCompact(spark, storeDir)
    assert(retry("image") === ((imageExemplars, imageExemplars)),
      s"retry after recovery is a clean no-op: ${retry("image")}")
  }

  /** The doc-ingest bed: messy-URL + dup-text fixtures over sf0.001
    * documents, md5-pseudorandom ~1/3 stored split (same arithmetic as
    * q_doc_ingest_audit).
    */
  def docIngestBed(): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    val docs = graft.ext.TextOps.withSyntheticDupText(
      graft.ext.WebOps.withSyntheticMessyUrl(
        graft.Tables.documents(spark, "/root/testdata/sf0.001")))
    val stored = conv(substring(md5(col("doc_id").cast("string")), 1, 2),
      16, 10).cast("int") % 3 === 0
    (docs, docs.filter(stored), docs.filter(!stored))
  }

  def docStoreFrames(sDocs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    (graft.ext.WebOps.canonicalizeUrl(sDocs).select("canonical_url"),
      sDocs.select(md5(col("text")).as("text_md5")),
      Dedup.minhashSignaturesMd5(Dedup.shingles(sDocs), numHashes = 16))
  }

  test("docIngestAudit: flags replay the standalone text operators; every flag varies") {
    import org.apache.spark.sql.functions._
    val (docs, sDocs, nDocs) = docIngestBed()
    val (sU, sT, sS) = docStoreFrames(sDocs)
    val audit = Curation.docIngestAudit(spark, nDocs, sU, sT, sS)
    val rows = audit.collect().map(r => r.getLong(0) ->
      (1 to 9).map(r.getBoolean).toVector).toMap
    audit.unpersist(false)
    // driver-side replays of each standalone rule
    val canon = graft.ext.WebOps.canonicalizeUrl(docs)
      .select("doc_id", "canonical_url").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val newIds = rows.keySet
    val storedIds = canon.keySet -- newIds
    val storedCanon = storedIds.map(canon)
    val storedTexts = storedIds.map(texts)
    rows.foreach { case (id, f) =>
      assert(f(0) === storedCanon.contains(canon(id)), s"doc $id url_dup_stored")
      assert(f(1) === newIds.exists(m => m < id && canon(m) == canon(id)),
        s"doc $id url_dup_new")
      assert(f(2) === storedTexts.contains(texts(id)), s"doc $id text_dup_stored")
      assert(f(3) === newIds.exists(m => m < id && texts(m) == texts(id)),
        s"doc $id text_dup_new")
      assert(f(7) === !(0 to 5).exists(f), s"doc $id novel")
      assert(f.last === (f(7) && f(6)), s"doc $id keep")
    }
    // near-dup flags: the group rule over the standalone incremental's
    // pairs (reps = min-id per distinct new text)
    val reps = newIds.groupBy(texts).map { case (_, ids) => ids.min }.toSet
    val repDocs = nDocs.filter(col("doc_id").isin(reps.toSeq: _*))
    val pairs = Dedup.incrementalMinhashNearDup(repDocs, sS,
      numHashes = 16, numBands = 8, portableHash = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    val crossReps = pairs.filter(_._3).flatMap(p => Seq(p._1, p._2)).toSet
    val newRepsB = pairs.filter(!_._3).map(_._2).toSet
    rows.foreach { case (id, f) =>
      val rep = newIds.filter(m => texts(m) == texts(id)).min
      assert(f(4) === crossReps.contains(rep), s"doc $id neardup_stored")
      assert(f(5) === (id != rep || newRepsB.contains(rep)), s"doc $id neardup_new")
    }
    // quality flag replays the classifier
    val kept = graft.ext.TextOps.classifierQualityScore(nDocs)
      .filter(col("kept") === 1).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    rows.foreach { case (id, f) =>
      assert(f(6) === kept.contains(id), s"doc $id quality_kept") }
    // informative bed: every flag takes both values
    (0 until 9).foreach { i =>
      assert(rows.values.exists(_(i)) && rows.values.exists(!_(i)),
        s"flag $i must vary") }
  }

  test("docIngestDayFold: chained novelty store vs one-batch audit (three days)") {
    import org.apache.spark.sql.functions.col
    val (_, sDocs, nDocs) = docIngestBed()
    val (sU, sT, sS) = docStoreFrames(sDocs)
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_doc_ingest").toString
    Curation.docIngestStoreInit(spark, storeDir, sU, sT, sS)
    var chainNovel = Set.empty[Long]
    var chainDup = Map.empty[String, Set[Long]].withDefaultValue(Set.empty)
    val classes = Seq("url" -> Seq(1, 2), "text" -> Seq(3, 4), "near" -> Seq(5, 6))
    for ((lo, hi) <- Seq((0L, 170L), (170L, 340L), (340L, 500L))) {
      val day = Curation.docIngestDayFold(spark,
        nDocs.filter(col("doc_id") >= lo && col("doc_id") < hi), storeDir)
      val rows = day.collect()
      day.unpersist(false)
      chainNovel ++= rows.filter(_.getAs[Boolean]("novel")).map(_.getLong(0))
      classes.foreach { case (c, idx) =>
        chainDup += c -> (chainDup(c) ++
          rows.filter(r => idx.exists(r.getBoolean)).map(_.getLong(0)))
      }
    }
    val batch = Curation.docIngestAudit(spark, nDocs, sU, sT, sS)
    val bRows = batch.collect()
    batch.unpersist(false)
    val batchNovel = bRows.filter(_.getAs[Boolean]("novel")).map(_.getLong(0)).toSet
    // universal laws of the novelty fold: a chained day sees only the
    // initial store plus FOLDED exemplars (a subset of the lower-id new
    // docs the one-batch audit banded against), so per duplicate class
    // every chained flag has a one-batch witness, and one-batch novelty
    // implies chained novelty
    classes.foreach { case (c, idx) =>
      val batchDup = bRows.filter(r => idx.exists(r.getBoolean))
        .map(_.getLong(0)).toSet
      assert(chainDup(c).subsetOf(batchDup),
        s"$c: chain-only dups ${(chainDup(c) -- batchDup).toSeq.sorted.take(5)}")
    }
    assert(batchNovel.subsetOf(chainNovel),
      s"batch-only novel ${(batchNovel -- chainNovel).toSeq.sorted.take(5)}")
    // strict equality does NOT universally hold — a doc whose only
    // duplicate witnesses were themselves suppressed (as dups of
    // something the doc does not resemble) has no folded exemplar to
    // match, so the chained regime legitimately calls it novel where
    // the one-batch audit saw the in-batch pair. Pin the STRUCTURE of
    // the divergence instead: every chain-only-novel doc must be a
    // pure dup_new case in the batch (no stored-class flag — the
    // store only grows, so any batch stored flag would re-fire in the
    // chain), and the delta stays a sliver of the batch
    val chainOnly = chainNovel -- batchNovel
    val byId = bRows.map(r => r.getLong(0) -> r).toMap
    chainOnly.foreach { id =>
      val r = byId(id)
      assert(Seq("url_dup_stored", "text_dup_stored", "neardup_stored")
        .forall(c => !r.getAs[Boolean](c)),
        s"chain-only novel $id must carry no batch stored-class flag")
      assert(Seq("url_dup_new", "text_dup_new", "neardup_new")
        .exists(c => r.getAs[Boolean](c)),
        s"chain-only novel $id must be an in-batch dup_new case")
    }
    assert(chainOnly.size * 20 <= bRows.length,
      s"divergence must stay a sliver: ${chainOnly.size} of ${bRows.length}")
    assert(batchNovel.nonEmpty && batchNovel.size < nDocs.count(),
      "informative bed")
    // the store is DUPLICATE-FREE BY CONSTRUCTION after any number of
    // folds: only novel docs fold, and a doc sharing a canonical url /
    // text with the store or with a lower-id batch member is never
    // novel — so compaction of the text store is a no-op and day-N
    // scan cost is bounded by distinct content with no maintenance
    val (cU, cT, cS) = Curation.docIngestReadStore(spark, storeDir)
    assert(cU.count() === cU.distinct().count(), "url store duplicate-free")
    assert(cT.count() === cT.distinct().count(), "text store duplicate-free")
    assert(cS.select("doc_id").count() ===
      cS.select("doc_id").distinct().count(), "one signature per stored doc")
  }

  test("docIngestDayFold cold start: empty store, day-1 flags are in-batch only") {
    import org.apache.spark.sql.functions.{col, lit, md5}
    val (_, _, nDocs) = docIngestBed()
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_doc_cold").toString
    val empty = nDocs.limit(0)
    Curation.docIngestStoreInit(spark, storeDir,
      graft.ext.WebOps.canonicalizeUrl(empty).select("canonical_url"),
      empty.select(md5(col("text")).as("text_md5")),
      empty.select(col("doc_id"),
        org.apache.spark.sql.functions.array(lit(0L)).as("sig")))
    val day1 = Curation.docIngestDayFold(spark,
      nDocs.filter(col("doc_id") < 170), storeDir)
    val rows = day1.collect()
    day1.unpersist(false)
    assert(rows.nonEmpty)
    Seq("url_dup_stored", "text_dup_stored", "neardup_stored").foreach { c =>
      assert(rows.forall(!_.getAs[Boolean](c)), s"$c must be all-false on day 1")
    }
    assert(rows.exists(_.getAs[Boolean]("url_dup_new")), "in-batch dedup still runs")
    // the store now holds exactly day 1's novel docs' fingerprints
    val (_, _, sigs) = Curation.docIngestReadStore(spark, storeDir)
    val novel = rows.filter(_.getAs[Boolean]("novel")).map(_.getLong(0)).toSet
    val sigIds = sigs.select("doc_id").collect().map(_.getLong(0)).toSet
    // novel docs too short to shingle have no signature row
    assert(sigIds.nonEmpty && sigIds.subsetOf(novel))
  }

  test("storeCompactionSummary: predicts exactly what ingestStoreCompact reclaims") {
    import org.apache.spark.sql.functions.col
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val stored = col("doc_id") % 2 === 0
    val iH = Multimodal.imageDhash(spark,
      Multimodal.syntheticPngSkewed(spark, base).filter(stored))
    val aH = Multimodal.audioEhash(spark,
      Multimodal.syntheticWavSkewed(spark, base).filter(stored))
    val vH = Multimodal.videoPhash(spark,
      Multimodal.syntheticVideoJunk(spark, base).filter(stored))
      .select("doc_id", "slot", "dhash")
    val summ = Curation.storeCompactionSummary(spark, iH, aH, vH)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(summ.keySet === Set("image", "audio", "video"))
    summ.foreach { case (m, (before, ex, dropped, maxg)) =>
      assert(before === ex + dropped, s"$m: rows = exemplars + dropped")
      assert(maxg >= 1 && maxg <= before, s"$m: max_group in range")
    }
    // the planted flat/silent/static quarter collapses to shared
    // fingerprints: every modality has real reclaimable mass and a
    // degenerate group of at least the flat-mass size
    summ.foreach { case (m, (_, _, dropped, maxg)) =>
      assert(dropped > 0, s"$m: fixture must plant redundancy")
      assert(maxg > 1, s"$m: fixture must plant an identical group")
    }
    // the summary IS the compaction arithmetic: a store built from
    // these hashes compacts to exactly the predicted counts
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_store_summ").toString
    Curation.ingestStoreInit(spark, storeDir, iH, aH, vH)
    val counts = Curation.ingestStoreCompact(spark, storeDir)
    assert(counts("image") === ((summ("image")._1, summ("image")._2)))
    assert(counts("audio") === ((summ("audio")._1, summ("audio")._2)))
    // the video table stores SLOT rows (4 per doc); the summary counts
    // stored videos (signature groups)
    assert(counts("video") === ((summ("video")._1 * 4, summ("video")._2 * 4)))
  }

  test("docIngestChainAudit: pure chain ≡ the sequential store-dir folds") {
    import org.apache.spark.sql.functions.{col, conv, floor, lit, md5, substring}
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val d = TextOps.withSyntheticDupText(WebOps.withSyntheticMessyUrl(base))
    val chain = Curation.docIngestChainAudit(spark, d)
    val chainRows = chain.collect()
    chain.unpersist(false)
    def flags(r: org.apache.spark.sql.Row, off: Int) =
      (0 until 9).map(i => r.getBoolean(off + i))
    val chainMap = chainRows.map(r => (r.getInt(0), r.getLong(1)) -> flags(r, 2)).toMap
    // replay the identical md5 split through the OPERATIONAL loop:
    // store init from the stored third, then one docIngestDayFold per
    // md5-assigned day batch against the REAL parquet store
    val hex = md5(col("doc_id").cast("string"))
    val seedSide = conv(substring(hex, 1, 2), 16, 10).cast("int") % 3 === 0
    val sDocs = d.filter(seedSide)
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_doc_chain").toString
    Curation.docIngestStoreInit(spark, storeDir,
      WebOps.canonicalizeUrl(sDocs).select("canonical_url"),
      sDocs.select(md5(col("text")).as("text_md5")),
      Dedup.minhashSignaturesMd5(Dedup.shingles(sDocs)))
    val dayNum =
      (floor(conv(substring(hex, 3, 1), 16, 10).cast("int") * 3 / lit(16)) + 1)
        .cast("int")
    val rest = d.filter(!seedSide).withColumn("ingest_day", dayNum)
    val foldMap = (1 to 3).flatMap { kk =>
      val day = Curation.docIngestDayFold(spark,
        rest.filter(col("ingest_day") === kk).drop("ingest_day"), storeDir)
      val rows = day.collect()
      day.unpersist(false)
      rows.map(r => (kk, r.getLong(0)) -> flags(r, 1))
    }.toMap
    assert(chainMap === foldMap,
      "the pure chained query must equal the operational fold loop verdict-for-verdict")
    // informative bed: all three days present, both novelty verdicts occur
    assert((1 to 3).forall(kk => chainRows.exists(_.getInt(0) == kk)))
    val novels = chainRows.count(_.getAs[Boolean]("novel"))
    assert(novels > 0 && novels < chainRows.length)
  }
}
