package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Multimodal

/** Extended LLM-op invariants (dedup family, IVF ANN, text analysis,
  * multimodal plumbing). */
class LlmExtraSpec extends AnyFunSuite {
  import TestSpark._

  test("llm_token_bpe: hand-tokenized fixtures, lossless reconstruction") {
    import spark.implicits._
    // ranks: th the in an er on re st and ing ou ed
    val got = Seq("the", "hand", "thing", "steed", "x", "")
      .toDF("w")
      .select(graft.ops.LlmExtra.bpeApplyCol(col("w")).as("t"))
      .collect().map(_.getSeq[String](0).toList)
    assert(got(0) === List("the"))          // t,h,e -> th,e -> the
    assert(got(1) === List("h", "and"))     // a,n -> an; an,d -> and
    assert(got(2) === List("th", "ing"))    // th; i,n -> in; in,g -> ing
    assert(got(3) === List("st", "e", "ed")) // s,t -> st; e,d -> ed
    assert(got(4) === List("x"))            // no rank applies
    assert(got(5) === List())               // empty word -> no tokens
    // corpus-wide invariant: BPE merges only ever coalesce adjacent
    // symbols, so concatenating a word's tokens must reproduce the word
    val bad = graft.ops.Tables.t(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .select(col("w"), concat_ws("",
        graft.ops.LlmExtra.bpeApplyCol(col("w"))).as("r"))
      .where(col("w") =!= col("r")).count()
    assert(bad === 0)
    // native kernel == HOF executable spec, whole-text level (the query
    // key runs the kernel; the fold chain is the semantics reference)
    val mismatch = graft.ops.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"),
        graft.functions.VectorFunctions.bpeTokens(spark, col("text"))
          .as("k"))
      .select(col("doc_id"),
        flatten(transform(split(col("text"), " "),
          w => graft.ops.LlmExtra.bpeApplyCol(w))).as("h"), col("k"))
      .where(col("h") =!= col("k")).count()
    assert(mismatch === 0)
    // and the query surface: token count bounded by [n_words, n_chars]
    val df = q("llm_token_bpe")
    assert(df.count() > 0)
    assert(df.where(col("n_bpe") < col("n_words")).count() === 0)
  }

  test("ngram jaccard: values in (0,1], pairs ordered a<b") {
    val df = q("llm_dedup_ngram_jaccard")
    assert(df.where(col("jac") <= 0 || col("jac") > 1).count() === 0)
    assert(df.where(col("doc_a") >= col("doc_b")).count() === 0)
  }

  test("multi-probe IVF: recall@3 vs brute force >= single-probe recall") {
    val bf = q("llm_similarity_knn").where(col("rk") <= 3)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val twoProbe = q("llm_knn_ivf")
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // single-probe comparator: the SAME trained model (ivfAssign =
    // nearest bucket over ivfCentroids), queries scanning only their own
    // bucket — the pre-round-9 semantics
    val e = graft.ops.Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val assigned = graft.ops.LlmExtra.ivfAssign(spark, e).persist()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("vec_id"))
    val oneProbe = assigned.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket"))
      .join(assigned, "bucket")
      .where(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), round(
        graft.functions.VectorFunctions.cosine(spark, col("qv"), col("v")),
        4).as("cos"))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assigned.unpersist(blocking = false)
    val recall1 = (oneProbe & bf).size.toDouble / bf.size
    val recall2 = (twoProbe & bf).size.toDouble / bf.size
    assert(recall2 >= recall1,
      s"2-probe recall $recall2 fell below single-probe $recall1")
    // probe 1 is the single-probe bucket, so widening probes can only
    // grow each query's candidate set — recall must never regress
    assert(recall2 > 0.0)
  }

  test("quality classifier: hand-scored fixture, integer weight sum, " +
      "sigmoid score, keep threshold at w_sum = 0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_qc").toString
    // hand-computed buckets/weights for the op's hash:
    //   b(t) = (ascii(first)*31 + ascii(last)*7 + len) % 64
    //   w(b) = (b*37) % 21 - 10   (tenths)
    // "ab": (97*31+98*7+2)%64 = 3695%64 = 47 -> w = (1739%21)-10 = +7
    // "ba": (98*31+97*7+2)%64 = 3719%64 =  7 -> w = (259%21)-10  = -3
    // "q":  (113*31+113*7+1)%64 = 4295%64 = 7 -> w = -3
    // "a":  (97*31+97*7+1)%64 = 3687%64 = 39 -> w = (1443%21)-10 = +5
    // "aq": (97*31+113*7+2)%64 = 3800%64 = 24 -> w = (888%21)-10 = -4
    Seq(
      (0L, "s", "ab ba"),        // w_sum 7-3 = 4          -> keep
      (1L, "s", "ba q q"),       // w_sum -9               -> drop
      (2L, "s", "a a ba q aq"),  // w_sum 5+5-3-3-4 = 0    -> keep (boundary)
      (3L, "s", "ab  ba"))       // double space: empty token filtered, = doc 0
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("llm_quality_classifier")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
    // score checks: sigmoid(4/20)=0.5498; sigmoid(-9/30)=0.4256;
    // sigmoid(0)=0.5 with keep TRUE at the boundary
    assert(got.toSeq === Seq(
      (0L, 2, 4L, 0.5498, true),
      (1L, 3, -9L, 0.4256, false),
      (2L, 5, 0L, 0.5, true),
      (3L, 2, 4L, 0.5498, true)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("substring dedup: cross-doc shared span found at exact token " +
      "bounds; within-doc repeat found; unique docs silent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_substr").toString
    // 10 shared tokens → duplicated 8-gram starts form one maximal run
    val shared = (1 to 10).map(i => s"shared$i").mkString(" ")
    val block = (1 to 8).map(i => s"rep$i").mkString(" ")
    Seq(
      // doc 0: 2 unique tokens then the shared span at positions 3..12
      (0L, "s", s"zero-a zero-b $shared"),
      // doc 1: shared span at positions 1..10, unique tail
      (1L, "s", s"$shared one-a one-b"),
      // doc 2: the same 8-gram twice WITHIN one doc (positions 1 and 9)
      (2L, "s", s"$block $block"),
      // doc 3: all-unique text, long enough to form grams
      (3L, "s", (1 to 12).map(i => s"uniq$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("llm_dedup_substring")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq === Seq(
      (0L, 3L, 12L, 10L),   // shared span offset by the 2-token prefix
      (1L, 1L, 10L, 10L),
      (2L, 1L, 8L, 8L),     // within-doc repeat: both copies reported
      (2L, 9L, 16L, 8L)))   // doc 3 absent: nothing duplicated
    // the prune companion removes exactly those spans: doc 0 keeps its
    // 2-token prefix, doc 1 its 2-token tail, doc 2 (entirely
    // duplicated) comes out EMPTY but still surfaces, doc 3 untouched
    val pruned = SparkEntry
      .queries("llm_dedup_substring_prune")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    assert(pruned.toSeq === Seq(
      (0L, 12L, 10L, "zero-a zero-b"),
      (1L, 12L, 10L, "one-a one-b"),
      (2L, 16L, 16L, ""),
      (3L, 12L, 0L, (1 to 12).map(i => s"uniq$i").mkString(" "))))
  }

  test("df-cap: boilerplate shingles drop out of candidate generation, " +
      "true near-dups survive") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dfcap").toString
    val boiler = "alpha beta gamma delta" // 2 trigram shingles
    val unique = (w: String) => s"$w-one $w-two $w-three $w-four $w-five"
    val cap = graft.ops.LlmExtra.ShingleDfCap.toInt
    val docs =
      // cap+2 filler docs all carrying the boilerplate -> its shingles'
      // df exceeds the cap and every boilerplate shingle is dropped
      (0 until cap + 2).map(i => (i.toLong, "s", s"$boiler ${unique(s"u$i")}")) ++
      // a TRUE near-dup pair: long identical unique text (jac = 1.0)
      Seq((1000L, "s", unique("same") + " " + unique("copy")),
        (1001L, "s", unique("same") + " " + unique("copy"))) ++
      // a BOILERPLATE-ONLY pair: identical text made of pure boilerplate
      // (uncapped jac would be 1.0) — the documented recall trade drops it
      Seq((2000L, "s", boiler), (2001L, "s", boiler))
    docs.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.catalog.clearCache()
    val pairs = SparkEntry.queries("llm_dedup_ngram_jaccard")(spark, dir)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    ops.OpCache.release(spark)
    assert(pairs.contains((1000L, 1001L)), "true near-dup pair must survive")
    assert(!pairs.contains((2000L, 2001L)),
      "boilerplate-only pair must be capped away")
    // no filler doc pairs with any other via boilerplate alone
    assert(pairs.forall { case (a, b) => a >= 1000L && b >= 1000L },
      s"boilerplate created candidate pairs: $pairs")
  }

  test("incremental dedup: only new-shard docs judged, matches point at " +
      "the retained corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val cutoff = math.floor(
      docs.agg(max(col("doc_id"))).first().getLong(0) * 0.9).toLong
    val out = q("llm_dedup_incremental")
    val nNew = docs.where(col("doc_id") > cutoff).count()
    // every new doc judged exactly once; retained docs never appear (and
    // so can never flip status)
    assert(out.count() === nNew)
    assert(out.where(col("doc_id") <= cutoff).count() === 0)
    // drops carry a retained match at or above the cluster threshold;
    // keeps carry no match
    assert(out.where(col("action") === "drop" &&
      (col("match_id").isNull || col("match_id") > cutoff ||
        col("jac") < graft.ops.LlmExtra.JacCluster)).count() === 0)
    assert(out.where(col("action") === "keep" &&
      col("match_id").isNotNull).count() === 0)
  }

  test("multimodal image: JDK PNG codec round-trips the fixture exactly") {
    val out = q("llm_multimodal_image").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) === 1 + (id % 4).toInt, s"width of doc $id")
      assert(r.getInt(2) === 1 + (id % 3).toInt, s"height of doc $id")
      assert(r.getInt(3) === ((id * 7) % 256).toInt, s"px_r of doc $id")
      assert(r.getInt(4) === ((id * 13) % 256).toInt, s"px_g of doc $id")
      assert(r.getInt(5) === ((id * 31) % 256).toInt, s"px_b of doc $id")
    }
    // the payloads are REAL PNGs, not fabricated features: magic bytes
    val png = graft.ops.Multimodal.pngBytes(5L)
    assert(png.take(4).map(_ & 0xff).toSeq === Seq(0x89, 0x50, 0x4e, 0x47))
  }

  test("multimodal image: pngBytes leaves the JVM-global ImageIO cache " +
      "setting alone") {
    // the memory-only stream cache is set once per partition by the
    // codec seam; the per-row encoder must not flip process-wide state
    // that any other ImageIO user in the JVM depends on
    val saved = javax.imageio.ImageIO.getUseCache
    try {
      javax.imageio.ImageIO.setUseCache(true)
      graft.ops.Multimodal.pngBytes(5L)
      assert(javax.imageio.ImageIO.getUseCache)
    } finally javax.imageio.ImageIO.setUseCache(saved)
  }

  test("cluster cache: rewriting the documents table is NOT served from " +
      "the stale shared cluster table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ccache").toString
    def write(n: Int): Unit =
      (0 until n).map(i => (i.toLong, "s",
        s"doc number$i body word$i alpha$i beta$i gamma$i delta$i"))
        .toDF("doc_id", "source", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write(4)
    assert(SparkEntry.queries("llm_dedup_clusters")(spark, dir).count() === 4)
    // same dir, rewritten contents: the cache key is a snapshot of the
    // input files, so the rebuilt corpus must produce a fresh table
    write(6)
    assert(SparkEntry.queries("llm_dedup_clusters")(spark, dir).count() === 6,
      "rewritten documents table was served from a stale cluster cache")
    ops.OpCache.release(spark)
  }

  test("cluster cache key is content-derived: a same-size same-mtime " +
      "rewrite changes the snapshot") {
    // the round-7 fingerprint was path:mtime:size — a rewrite landing in
    // the same mtime tick with identical sizes served stale clusters.
    // The key must now change when only CONTENT changes.
    val dir = java.nio.file.Files.createTempDirectory("graft_snap")
    val docs = dir.resolve("documents.parquet")
    java.nio.file.Files.createDirectories(docs)
    val part = docs.resolve("part-00000")
    val t0 = 1700000000000L
    java.nio.file.Files.write(part, "content-version-A".getBytes("UTF-8"))
    part.toFile.setLastModified(t0)
    val k1 = ops.LlmExtra.docsSnapshot(dir.toString)
    // same path, same byte LENGTH, same forced mtime — only bytes differ
    java.nio.file.Files.write(part, "content-version-B".getBytes("UTF-8"))
    part.toFile.setLastModified(t0)
    val k2 = ops.LlmExtra.docsSnapshot(dir.toString)
    assert(k1 !== k2,
      "same-size same-mtime rewrite produced the same cache key")
    // and the key is stable when nothing changes
    assert(ops.LlmExtra.docsSnapshot(dir.toString) === k2)
  }

  test("snapshot key reads only footers, yet a real parquet data " +
      "rewrite still changes it") {
    import spark.implicits._
    // footer mode (round-9): the driver hashes O(KB) of tail metadata
    // per part file instead of full content — the 100 TB-safe scan. The
    // row-group stats in the footer must still catch a value rewrite.
    val dir = java.nio.file.Files.createTempDirectory("graft_snapf").toString
    def write(tag: String): Unit =
      Seq((1L, "s", s"alpha $tag"), (2L, "s", s"beta $tag"))
        .toDF("doc_id", "source", "text")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write("v1")
    val k1 = ops.LlmExtra.docsSnapshot(dir)
    assert(ops.LlmExtra.docsSnapshot(dir) === k1, "key must be stable")
    write("v2")
    assert(ops.LlmExtra.docsSnapshot(dir) !== k1,
      "parquet data rewrite did not change the footer-hash key")
  }

  test("simhash: near-identical docs collide; hamming within [0,64]") {
    val df = q("llm_dedup_simhash")
    assert(df.where(col("hamming") < 0 || col("hamming") > 64).count() === 0)
    // docs with identical text have identical signatures => hamming 0 and
    // are guaranteed candidates (they share every band)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dups = docs.as("a").join(docs.as("b"),
        col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val missed = dups.join(df.where(col("hamming") === 0),
      Seq("doc_a", "doc_b"), "left_anti")
    assert(missed.count() === 0)
  }

  test("embcos near-dup: 3 pairs per IVF bucket, cos descending") {
    val df = q("llm_dedup_embcos")
    assert(df.groupBy("bucket").count().where(col("count") > 3).count() === 0)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("bucket").orderBy("rk")
    assert(df.withColumn("prev", lag(col("cos"), 1).over(w))
      .where(col("prev").isNotNull && col("cos") > col("prev")).count() === 0)
  }

  test("IVF buckets: every vector assigned once; no bucket dominates") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val sizes = graft.ops.LlmExtra.ivfAssign(spark, e)
      .groupBy("bucket").count().collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("count")).toMap
    val total = e.count()
    assert(sizes.values.sum === total, "assignment must be a partition")
    assert(sizes.size >= 2, "bucket structure collapsed to one cell")
    // k-means-lite balance: no trained bucket swallows >60% of vectors
    assert(sizes.values.max <= total * 6 / 10,
      s"skewed buckets: $sizes")
  }

  test("IVF: neighbors come from the query's own bucket and rank correctly") {
    val ivf = q("llm_knn_ivf")
    assert(ivf.groupBy("q_id").count().where(col("count") > 3).count() === 0)
    // IVF results are a subset of brute-force candidates' similarity range:
    // every IVF neighbor's cos must be <= the brute-force rank-1 cos.
    val bf1 = q("llm_similarity_knn").where(col("rk") === 1)
      .select(col("q_id"), col("cos").as("best"))
    assert(ivf.join(bf1, "q_id").where(col("cos") > col("best")).count() === 0)
  }

  test("lang_id: prediction is always one of the five languages") {
    val df = q("llm_lang_id")
    assert(df.where(!col("pred").isin("en", "es", "fr", "de", "zh")).count() === 0)
  }

  test("token_count: bpe segmentation never yields fewer than ws tokens") {
    // every ws token splits into >= 1 bpe tokens (letters/digits/punct)
    assert(q("llm_token_count").where(col("n_bpe") < col("n_ws")).count() === 0)
    assert(q("llm_token_count").where(col("chars_per_tok") <= 0).count() === 0)
  }

  test("fingerprint: identical text => identical fingerprint, and stable") {
    val fp1 = q("llm_fingerprint")
    val fp2 = q("llm_fingerprint")
    assert(fp1.join(fp2.withColumnRenamed("fp_min", "fp2"), "doc_id")
      .where(col("fp_min") =!= col("fp2")).count() === 0)
    assert(fp1.where(col("fp_distinct") <= 0).count() === 0)
  }

  test("multimodal pipeline: payload bytes round-trip and batch shape holds") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val media = Multimodal.toMedia(docs)
    // payload decodes back to the original text
    val back = media.map(r => (r.doc_id, new String(r.payload, "UTF-8")))
      .toDF("doc_id", "text2")
    assert(docs.join(back, "doc_id")
      .where(col("text") =!= col("text2")).count() === 0)
    // mapPartitions preserves row count and partitioning
    val feats = Multimodal.decodeFeatures(media)
    assert(feats.count() === docs.count())
    assert(feats.rdd.getNumPartitions === media.rdd.getNumPartitions)
    assert(feats.where(col("byte_len") =!= col("f0") + col("f1") * 256).count() === 0)
  }

  test("audio: wavBytes is a real RIFF/WAVE file and decodeAudio round-trips") {
    // codec-level check, no Spark: the bytes start with a RIFF header and
    // the JDK codec reads back exactly the arithmetic the oracle replays
    for (id <- Seq(0L, 1L, 7L, 123L, 4096L)) {
      val bytes = Multimodal.wavBytes(id)
      assert(new String(bytes.take(4), "US-ASCII") === "RIFF")
      assert(new String(bytes.slice(8, 12), "US-ASCII") === "WAVE")
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      assert(ais.getFormat.getSampleRate.toInt === 8000 + (id % 3).toInt * 4000)
      assert(ais.getFrameLength.toInt === 4 + (id % 5).toInt)
    }
    // pipeline-level: decoded features equal the fixture arithmetic
    val df = q("llm_multimodal_audio")
    val bad = df.where(
      col("sample_rate") =!= lit(8000) + (col("doc_id") % 3) * 4000 ||
      col("n_frames") =!= lit(4) + col("doc_id") % 5 ||
      col("s_first") =!= (col("doc_id") * 31) % 65536 - 32768 ||
      col("s_last") =!=
        (col("doc_id") * 31 + (col("n_frames") - 1) * 17) % 65536 - 32768)
    assert(bad.count() === 0)
    assert(df.count() ===
      spark.read.parquet(s"$sf/documents.parquet").count())
  }

  test("decontaminate: a train doc copying benchmark text is flagged " +
      "(even cross-source); benchmark docs never appear in the output") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_decon").toString
    val benchText = "the quick brown fox jumps over the lazy dog tonight"
    Seq(
      (17L, "web", benchText), // benchmark slice: 17 % 17 == 0
      (18L, "books", benchText), // leaked copy via a DIFFERENT source
      (19L, "web", "completely different words appear in this training doc")
    ).toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.catalog.clearCache()
    val rows = SparkEntry.queries("llm_decontaminate")(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSet === Set(18L, 19L)) // 17 excluded
    val byId = rows.map(r => r.getLong(0) ->
      ((r.getBoolean(4), r.getDouble(3)))).toMap
    assert(byId(18L) === ((true, 1.0))) // every shingle shared
    assert(byId(19L)._1 === false)
  }

  test("repetition filter: spam doc fails both cuts; natural and " +
      "single-word docs keep") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rep").toString
    Seq(
      (1L, "s", "spam spam spam spam spam spam spam spam"),
      (2L, "s", "eight perfectly distinct words compose this natural sentence"),
      (3L, "s", "one")
    ).toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.catalog.clearCache()
    val out = SparkEntry.queries("llm_repetition_filter")(spark, dir)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(1L) === ((0.875, 0.8571, false))) // 1-1/8, 1-1/7
    assert(out(2L) === ((0.0, 0.0, true)))
    assert(out(3L) === ((0.0, 0.0, true))) // zero bigrams -> guarded 0.0
  }

  test("perplexity proxy: rare-token soup scores below common prose; " +
      "all scores are negative log-probs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ppx").toString
    val common = "the data the data the data the data"
    Seq(
      (1L, "s", common), (2L, "s", common), (3L, "s", common),
      (4L, "s", "zq glorp wexuvian snarfling quibblenox") // singletons
    ).toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.catalog.clearCache()
    val out = SparkEntry.queries("llm_perplexity_proxy")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.values.forall(_ < 0.0)) // ln p < 0 always
    assert(out(4L) < out(1L)) // rare-token doc is less probable
    assert(out(1L) === out(2L)) // identical docs score identically
  }

  test("token_count and quality_score are well-defined on empty text") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    Seq((1L, "s", "", 0L), (2L, "s", "normal words here", 17L))
      .toDF("doc_id", "source", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.catalog.clearCache()
    val tc = SparkEntry.queries("llm_token_count")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(tc(1L) === 0.0) // zero BPE tokens -> guarded ratio, not inf
    assert(tc(2L) > 0.0)
    val qs = SparkEntry.queries("llm_quality_score")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(qs(1L) === 0.0) // punct ratio guarded on length 0
  }

  test("domain balance: the smallest source keeps everything; an " +
      "over-represented source is cut by the deterministic coin") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bal").toString
    val docs = (0L until 4L).map(i => (i, "small", s"w$i")) ++
      (100L until 140L).map(i => (i, "big", s"w$i"))
    docs.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.catalog.clearCache()
    val rows = SparkEntry.queries("llm_domain_balance")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(3)))
    assert(rows.filter(_._2 == "small").forall(_._3)) // cut = 10000: all keep
    // target 4 over 40 docs -> cut 1000; independently replay the coin
    val expBig = (100L until 140L)
      .count(i => (i * 1000003L + 12345L) % 10000L < 1000L)
    assert(rows.count(r => r._2 == "big" && r._3) === expBig)
    assert(expBig < 40) // the cut actually bites on this fixture
  }

  test("mixture weights: sum to 1, monotone in tokens, boost inverts " +
      "the token order (alpha < 1 upweights the tail)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mix").toString
    // three domains with 1:4:16 token mass (one doc each, word counts)
    val docs = Seq(
      (1L, "tail", Seq.fill(10)("w").mkString(" ")),
      (2L, "mid", Seq.fill(40)("w").mkString(" ")),
      (3L, "head", Seq.fill(160)("w").mkString(" ")))
    docs.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.catalog.clearCache()
    val rows = SparkEntry.queries("llm_mixture_weights")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.length === 3)
    val bySrc = rows.map(r => r._1 -> r).toMap
    // weights and natural shares each normalize to 1
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4)
    // weight is monotone in token mass, but flatter than natural:
    // the tail domain's weight exceeds its natural share, the head's
    // falls below it (that is what temperature alpha=0.7 buys)
    assert(bySrc("tail")._3 < bySrc("mid")._3)
    assert(bySrc("mid")._3 < bySrc("head")._3)
    assert(bySrc("tail")._5 > 1.0 && bySrc("head")._5 < 1.0)
    // boost order is the inverse of token order
    assert(bySrc("tail")._5 > bySrc("mid")._5)
    assert(bySrc("mid")._5 > bySrc("head")._5)
    // closed form check on one domain: w = n^0.7 / sum(n^0.7)
    val pows = docs.map(d => math.pow(d._3.split(" ").length, 0.7))
    val expTail = pows.head / pows.sum
    assert(math.abs(bySrc("tail")._3 - expTail) < 1e-5)
  }

  test("paragraph dedup: repeated 20-token chunks drop corpus-wide and " +
      "intra-doc; survivors reassemble in position order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_par").toString
    def ws(p: String, a: Int, b: Int) = (a until b).map(p + _)
    val c1 = ws("w", 0, 20)
    val c2 = ws("w", 20, 40)
    val u = ws("u", 0, 20)
    val v = ws("v", 0, 20)
    val x = ws("x", 0, 30) // 1 full chunk + a 10-token tail chunk
    val docs = Seq(
      (1L, (c1 ++ c2).mkString(" ")), // both chunks first occurrences
      (2L, (c2 ++ u).mkString(" ")), // chunk1 is doc1's c2 -> dropped
      (3L, (c1 ++ c2).mkString(" ")), // exact copy -> fully dropped
      (4L, (v ++ v).mkString(" ")), // intra-doc repeat -> 2nd dropped
      (5L, x.mkString(" "))) // short tail chunk survives as its own
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.catalog.clearCache()
    val out = SparkEntry.queries("llm_dedup_paragraph")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out(1L) === ((2, 0, (c1 ++ c2).mkString(" "))))
    assert(out(2L) === ((2, 1, u.mkString(" "))))
    assert(out(3L) === ((2, 2, ""))) // boilerplate-only doc empties out
    assert(out(4L) === ((2, 1, v.mkString(" "))))
    assert(out(5L) === ((2, 0, x.mkString(" "))))
    // global invariant: kept chunks = distinct chunk contents
    // (c1, c2, u, v, and x's full + tail chunks = 6)
    val totalKept = out.values.map(t => t._1 - t._2).sum
    assert(totalKept === 6)
  }

  test("gopher quality gate: each rule fails its crafted doc and the " +
      "clean doc passes them all") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gq").toString
    val good = ("the and " + Seq.fill(58)("word").mkString(" "))
    val docs = Seq(
      (1L, good), // 60 words, mean 4.03, alpha 1.0, 2 stops -> keep
      (2L, "the and tiny"), // fails the 50-word minimum
      (3L, ("the and " + Seq.fill(58)("12345").mkString(" "))), // alpha
      (4L, ("the " + Seq.fill(59)("word").mkString(" "))), // 1 stopword
      (5L, ("the and " + Seq.fill(58)("w").mkString(" ")))) // wlen < 3
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.catalog.clearCache()
    val out = SparkEntry.queries("llm_quality_gopher")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(out === Map(1L -> true, 2L -> false, 3L -> false,
      4L -> false, 5L -> false))
  }

  test("llm_semdedup: exhaustive over vectors; prune rule exact in both " +
      "directions") {
    val r = q("llm_semdedup").persist()
    try {
      val total = graft.ops.Tables.t(spark, sf, "embeddings").count()
      assert(r.count() === total)
      assert(r.select("vec_id").distinct().count() === total)
      // rebuild the bucket-local cos graph independently of the key's
      // dup join and check: (a) every vec with a lower-id tau-neighbor
      // is pruned; (b) every pruned vec has one
      val e = graft.ops.Tables.t(spark, sf, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val withV = r.join(e, "vec_id")
      val cos = graft.functions.VectorFunctions.cosine(spark,
        col("a.v"), col("b.v"))
      val pairs = withV.as("a").join(withV.as("b"),
          col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .where(round(cos, 4) >= 0.35)
        .select(col("b.vec_id").as("vec_id")).distinct()
      val shouldPrune = pairs.count()
      assert(shouldPrune > 0, "fixture must exercise the prune path")
      assert(r.where(!col("kept")).count() === shouldPrune)
      assert(r.join(pairs, "vec_id").where(col("kept")).count() === 0)
    } finally r.unpersist()
  }

  test("llm_source_report: volumes add up and rates are recomputable") {
    val r = q("llm_source_report").persist()
    try {
      val docs = graft.ops.Tables.t(spark, sf, "documents")
      assert(r.agg(sum("n_docs")).first().getLong(0) === docs.count())
      assert(r.agg(sum("total_chars")).first().getLong(0) ===
        docs.agg(sum("n_chars")).first().getLong(0))
      assert(r.where(col("en_share") < 0 || col("en_share") > 1 ||
        col("dup_rate") < 0 || col("dup_rate") > 1).count() === 0)
      // spot-recompute one source's dup rate from scratch
      val src = r.select("source").first().getString(0)
      val sub = docs.where(col("source") === src)
      val expect = 1.0 - sub.select(md5(col("text"))).distinct().count()
        .toDouble / sub.count()
      val got = r.where(col("source") === src)
        .select("dup_rate").first().getDouble(0)
      assert(math.abs(got - math.round(expect * 1e4) / 1e4) < 1e-9)
    } finally r.unpersist()
  }

  test("llm_tokenizer_train: exact match with a driver-side reference " +
      "trainer; max pair count never increases") {
    // reference BPE trainer: same tie-break (count desc, pair asc),
    // same left-to-right merge fold, run on the collected word counts
    val words = scala.collection.mutable.Map.empty[List[String], Long]
    graft.ops.Tables.t(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .collect().foreach { r =>
        words(r.getString(0).map(_.toString).toList) = r.getLong(1) }
    val want = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    for (r <- 1 to 8) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (sym, cnt) =>
        sym.zip(sym.drop(1)).foreach { p =>
          pairs(p) = pairs.getOrElse(p, 0L) + cnt }
      }
      if (pairs.nonEmpty) {
        val ((a, b), n) = pairs.toSeq.minBy { case ((a, b), n) =>
          (-n, a, b) }
        want += ((r, a, b, n))
        val snapshot = words.toSeq; words.clear()
        snapshot.foreach { case (sym, cnt) =>
          val merged = sym.foldLeft(List.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.head == a && x == b) (a + b) :: acc.tail
            else x :: acc
          }.reverse
          words(merged) = words.getOrElse(merged, 0L) + cnt
        }
      }
    }
    val got = q("llm_tokenizer_train").collect().map(x =>
      (x.getAs[Int]("rank"), x.getAs[String]("pair_a"),
        x.getAs[String]("pair_b"), x.getAs[Long]("weighted_count")))
    assert(got.toSeq === want.toSeq)
    // merging the argmax pair can only shrink other pairs' counts and
    // any new pair is bounded by the merged one — monotone training
    got.map(_._4).sliding(2).filter(_.length == 2).foreach {
      case Array(x, y) => assert(x >= y) }
    val mergedCol = q("llm_tokenizer_train")
      .where(col("merged") =!= concat(col("pair_a"), col("pair_b")))
    assert(mergedCol.count() === 0)
  }

  test("llm_bloom_dedup: no false negatives, bounded false positives, " +
      "deterministic") {
    val docs = graft.ops.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), md5(col("text")).as("digest"))
    val seenDigests = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
      .select("digest").distinct()
    val r = q("llm_bloom_dedup").persist()
    try {
      assert(r.count() ===
        docs.where(pmod(col("doc_id"), lit(3)) === 0).count())
      // every true cross-shard duplicate MUST be flagged (the Bloom
      // contract: zero false negatives)
      val missed = r.join(seenDigests, "digest").where(!col("flagged"))
      assert(missed.count() === 0)
      // false positives bounded: fpp=1% plus slack on the tiny corpus
      val falsePos = r.where(col("flagged"))
        .join(seenDigests, Seq("digest"), "left_anti").count()
      assert(falsePos <= math.max(5L, r.count() / 20))
      // same session, same corpus -> bit-identical flags
      val again = q("llm_bloom_dedup").collect().map(
        x => (x.getLong(0), x.getBoolean(2))).toSeq
      assert(again === r.select("doc_id", "flagged").collect().map(
        x => (x.getLong(0), x.getBoolean(1))).toSeq)
    } finally r.unpersist()
  }

  test("llm_shard_manifest: shards partition the corpus, boundaries land " +
      "on the 400-token grid, digests are well-formed") {
    val r = q("llm_shard_manifest").collect()
    val docs = graft.ops.Tables.t(spark, sf, "documents")
    val totDocs = docs.count()
    val totToks = docs.select(
        size(split(col("text"), " ")).cast("long").as("n")).agg(sum("n"))
      .first().getLong(0)
    assert(r.map(_.getAs[Long]("n_docs")).sum === totDocs)
    assert(r.map(_.getAs[Long]("n_tokens")).sum === totToks)
    // per source: shard ids consecutive from 0, doc ranges strictly
    // ordered, and the manifest's own running token total at each shard
    // boundary sits inside that shard's 400-token budget window — the
    // defining offset-sharding invariant, checkable from the manifest
    // alone
    r.groupBy(_.getAs[String]("source")).foreach { case (_, rows) =>
      val shards = rows.sortBy(_.getAs[Long]("shard_id"))
      var running = 0L
      shards.zipWithIndex.foreach { case (row, k) =>
        assert(row.getAs[Long]("shard_id") === k.toLong)
        assert(running >= 400L * k && running < 400L * (k + 1),
          s"boundary $running outside shard $k window")
        assert(row.getAs[Long]("doc_lo") <= row.getAs[Long]("doc_hi"))
        running += row.getAs[Long]("n_tokens")
      }
      shards.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("doc_hi") < b.getAs[Long]("doc_lo"))
        case _ => ()
      }
    }
    r.foreach(row =>
      assert(row.getAs[String]("digest").matches("[0-9a-f]{32}")))
  }
}
