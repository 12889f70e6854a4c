package graft

import org.apache.spark.sql.functions._
import graft.text.{Chunks, TextOps}

class ChunkSpec extends SparkSpec {

  import spark.implicits._

  private def df(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("chunkDocsTok: tokens identical to the chunkDocs text path") {
    // the lowerToks pass-through contract (r21): chunkDocsTok's
    // pre-sliced toks must equal what every tokenizer computes from
    // the chunk TEXT — filter(split(lower(text), ' '), != '') — for
    // the same composite id, on real corpus text incl. multi-space
    // runs, unicode, and empty docs
    val docs = TextOps.docs(spark, SF)
    val viaText = Chunks.chunkDocs(docs)
      .select(col("doc_id"), col("lang"),
        expr("filter(split(lower(text), ' '), x -> x != '')").as("toks"))
    val viaSlice = Chunks.chunkDocsTok(docs)
    assert(viaText.count() == viaSlice.count())
    val diff = viaText.as("a").join(viaSlice.as("b"), Seq("doc_id"))
      .filter(col("a.lang") =!= col("b.lang") ||
        col("a.toks") =!= col("b.toks"))
      .count()
    assert(diff == 0L,
      "chunkDocsTok toks drifted from the text-path tokenization")
    // and its toks carry the marker lowerToks passes through
    assert(TextOps.lowerToks(viaSlice) eq viaSlice)
  }

  test("lowerToks: only a marked toks column passes through") {
    val d = Seq((1L, "Hello  World", Seq("X", "Y"))).toDF("doc_id", "text", "toks")
    // an unrelated column named toks is replaced by the tokenized text
    assert(TextOps.lowerToks(d).select("toks").head.getSeq[String](0) ==
      Seq("hello", "world"))
    val marked = d.select(col("doc_id"), col("text"),
      TextOps.asLowerToks(col("toks")))
    assert(TextOps.lowerToks(marked).select("toks").head.getSeq[String](0) ==
      Seq("X", "Y"))
  }

  test("chunkAssign: grid reconstructs the document exactly") {
    val docs = TextOps.docs(spark, SF)
    val chunks = Chunks.chunkAssign(docs, width = 32)
    val words = docs.select(col("doc_id"),
      expr("filter(split(text, ' '), x -> x != '')").as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_words"))
      .filter(col("n_words") > 0)
    val per = chunks.groupBy("doc_id").agg(
      count(lit(1)).as("n_chunks"),
      sum("chunk_words").as("cw"),
      max("chunk_idx").as("max_idx"),
      min("start_word").as("min_start"))
    val joined = per.join(words, "doc_id").collect()
    assert(joined.length == words.count())
    joined.foreach { r =>
      val n = r.getAs[Long]("n_words")
      assert(r.getAs[Long]("cw") == n) // windows partition the words
      assert(r.getAs[Long]("n_chunks") == (n - 1) / 32 + 1) // ceil(n/32)
      assert(r.getAs[Long]("max_idx") == (n - 1) / 32)
      assert(r.getAs[Long]("min_start") == 0L)
    }
  }

  test("chunkAssign: identical windows share a digest, width respected") {
    val a = (1 to 32).map(i => s"w$i").mkString(" ")
    val b = (1 to 32).map(i => s"x$i").mkString(" ")
    // doc 1 = A B, doc 2 = A (prefix copy), doc 3 = B tail-partial
    val d = df(1L -> s"$a $b", 2L -> a, 3L -> (b + " extra"))
    val c = Chunks.chunkAssign(d, width = 32).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx")) ->
        (r.getAs[String]("chunk_digest"), r.getAs[Long]("chunk_words")))
      .toMap
    assert(c.size == 5)
    assert(c((1L, 0L))._1 == c((2L, 0L))._1) // shared A window
    assert(c((1L, 1L))._1 == c((3L, 0L))._1) // shared B window
    assert(c((1L, 0L))._1 != c((1L, 1L))._1)
    assert(c((3L, 1L))._2 == 1L) // trailing partial records shortfall
    assert(c.values.forall(_._2 <= 32L))
  }

  test("chunkDedup: keeper election is lexicographic min incl. intra-doc") {
    val a = (1 to 32).map(i => s"w$i").mkString(" ")
    val b = (1 to 32).map(i => s"x$i").mkString(" ")
    // doc 1 repeats A internally; doc 2 is a verbatim copy of doc 1's
    // first window; doc 3 is unique
    val d = df(1L -> s"$a $a $b", 2L -> a, 3L -> "solo words only")
    val out = Chunks.chunkDedup(d, width = 32).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("n_dup"), r.getAs[Long]("words_kept")))
      .toMap
    // doc 1: chunks A,A,B → first A + B kept, second A is an intra-doc dup
    assert(out(1L) == ((3L, 2L, 1L, 64L)))
    // doc 2's only chunk loses to doc 1 chunk 0
    assert(out(2L) == ((1L, 0L, 1L, 0L)))
    assert(out(3L) == ((1L, 1L, 0L, 3L)))
  }

  test("chunkDedupIncremental: shard probes the persisted index; seen " +
      "means in-corpus only; the bucketed index side never shuffles") {
    val a = (1 to 32).map(i => s"w$i").mkString(" ")
    val b = (1 to 32).map(i => s"x$i").mkString(" ")
    val corpus = df(1L -> s"$a $b", 2L -> a)
    // shard doc 10 = a known window + novel tail; doc 11 repeats a novel
    // window twice (intra-shard repetition is NOT "seen" — the corpus
    // index is the only reference)
    val nov = (1 to 32).map(i => s"n$i").mkString(" ")
    val shard = df(10L -> s"$a fresh words", 11L -> s"$nov $nov")
    val dir =
      java.nio.file.Files.createTempDirectory("graft_chunk_idx").toString
    graft.sources.Staged.drop(spark, "chunk_idx_t")
    Chunks.writeChunkIndex(corpus, "chunk_idx_t", dir)
    val out = Chunks.chunkDedupIncremental(spark, "chunk_idx_t", shard)
    val rows = out.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_seen"),
        r.getAs[Long]("n_new"), r.getAs[Long]("words_new"))).toMap
    assert(rows(10L) == ((2L, 1L, 1L, 2L)), rows.toString)
    assert(rows(11L) == ((2L, 0L, 2L, 64L)), rows.toString)
    // plan fences: bucketed index scan, no Exchange on the index side
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("Bucketed: true"), p)
  }

  test("chunkSearch: the matching passage wins its doc; scores equal " +
      "bm25 over the chunk corpus; composite ids decode") {
    // doc 1: 64 filler words then "needle" in the THIRD window — only
    // chunk 2 may match; doc 2: no needle — absent entirely
    val filler = Seq.fill(64)("pad").mkString(" ")
    val d = df(
      (1L, s"$filler needle tail tail"),
      (2L, "pad pad pad pad"))
    val hits = Chunks.chunkSearch(d, Seq("needle")).collect()
    assert(hits.length == 1, hits.mkString(", "))
    assert(hits(0).getAs[Long]("doc_id") == 1L)
    assert(hits(0).getAs[Long]("chunk_idx") == 2L)
    assert(hits(0).getAs[Long]("n_terms_matched") == 1L)
    // equality with the doc scorer over the explicit chunk corpus: the
    // hop through the composite id is transparent to the score
    val docs = TextOps.docs(spark, SF)
    val viaChunks = Chunks.chunkSearch(docs,
      Seq("vector", "stream", "window", "hash")).collect()
      .map(r => (r.getAs[Long]("doc_id") * Chunks.MaxChunksPerDoc +
        r.getAs[Long]("chunk_idx"), r.getAs[Long]("n_terms_matched"),
        r.getAs[Double]("score"))).toSet
    val direct = TextOps.bm25Search(
        Chunks.chunkCorpus(docs).select(col("chunk_id").as("doc_id"),
          col("text")), Seq("vector", "stream", "window", "hash"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_terms_matched"), r.getAs[Double]("score"))).toSet
    assert(direct.nonEmpty && viaChunks == direct)
  }

  test("chunk_similar_persisted: the chunk-granular probe equals the " +
      "directed slice of docSimilar over the chunk relation, and the " +
      "composite ids decode to real (doc, chunk) grid positions") {
    val docs = TextOps.docs(spark, SF)
    val cd = Chunks.chunkDocs(docs).localCheckpoint(true)
    val tbl = "graft_chunk_vec_spec"
    val path = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), tbl).toString
    graft.sources.Staged.drop(spark, tbl)
    graft.sources.Staged.drop(spark, s"${tbl}_vocab")
    TextOps.writeDocVectorIndex(cd, tbl, path)
    val pred = substring(md5(concat_ws(":",
      expr("CAST(doc_id div 1048576 AS STRING)"), lit("cmlt"))), 1, 1) < "2"
    val got = TextOps.docSimilarPersisted(spark, cd, tbl,
        s"${tbl}_vocab", pred, tau = 0.8)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    // cross-derivation: the chunk-corpus pair set restricted to
    // slice endpoints (slice drawn on the UNDERLYING doc), directed
    val inSlice = cd.filter(pred).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val want = TextOps.docSimilar(cd, tau = 0.8).collect().flatMap { r =>
      val (lang, a, b, s) =
        (r.getString(0), r.getLong(1), r.getLong(2),
          r.getAs[Double]("score"))
      Seq((lang, a, b, s)).filter(_ => inSlice(a)) ++
        Seq((lang, b, a, s)).filter(_ => inSlice(b))
    }.toSet
    assert(want.nonEmpty && got == want,
      s"probe ${got.size} vs slice ${want.size}")
    // every composite id decodes onto the real chunk grid
    val grid = Chunks.chunkAssign(docs)
      .select(col("doc_id"), col("chunk_idx")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    got.foreach { case (_, q, c, _) =>
      assert(grid((q / Chunks.MaxChunksPerDoc, q % Chunks.MaxChunksPerDoc)))
      assert(grid((c / Chunks.MaxChunksPerDoc, c % Chunks.MaxChunksPerDoc)))
    }
  }

  test("chunk_similar_persisted: a planted shared passage is retrieved " +
      "cross-doc at full score") {
    // two docs share one exact 32-word window; a third is unrelated —
    // the shared window must surface as a score-1.0 cross-doc pair
    val w = (1 to 32).map(i => s"tok$i").mkString(" ")
    val noise = (1 to 32).map(i => s"other$i").mkString(" ")
    val filler = (1 to 32).map(i => s"pad$i").mkString(" ")
    val d = Seq(
      (0L, "en", s"$w $noise"), (1L, "en", s"$w $filler"),
      (2L, "en", s"$noise $filler"), (3L, "en", noise),
      (4L, "en", filler), (5L, "en", w))
      .toDF("doc_id", "lang", "text")
    val cd = Chunks.chunkDocs(d).localCheckpoint(true)
    val tbl = "graft_chunk_vec_plant"
    val path = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), tbl).toString
    graft.sources.Staged.drop(spark, tbl)
    graft.sources.Staged.drop(spark, s"${tbl}_vocab")
    TextOps.writeDocVectorIndex(cd, tbl, path)
    // probe everything (pred = true): the planted pair must appear in
    // both directions
    val got = TextOps.docSimilarPersisted(spark, cd, tbl,
        s"${tbl}_vocab", lit(true), tau = 0.8)
      .collect()
      .map(r => (r.getLong(1) / Chunks.MaxChunksPerDoc,
        r.getLong(1) % Chunks.MaxChunksPerDoc,
        r.getLong(2) / Chunks.MaxChunksPerDoc, r.getDouble(3)))
    assert(got.exists { case (q, qi, c, s) =>
      q == 0L && qi == 0L && (c == 1L || c == 5L) && s == 1.0 },
      s"planted passage not retrieved: ${got.mkString(", ")}")
  }

  test("chunk_hybrid_rrf: fusion recomputable from member ranks, both " +
      "modalities contribute, ids decode onto the grid") {
    val docs = TextOps.docs(spark, SF)
    val tbl = "graft_chunk_hyb_spec"
    val path = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), tbl).toString
    graft.sources.Staged.drop(spark, tbl)
    graft.sources.Staged.drop(spark, s"${tbl}_vocab")
    val cd = Chunks.chunkDocs(docs)
    TextOps.writeDocVectorIndex(cd, tbl, path)
    val out = Chunks.chunkHybridRrf(spark, cd, tbl, s"${tbl}_vocab")
      .collect()
    assert(out.nonEmpty)
    val grid = Chunks.chunkAssign(docs)
      .select(col("doc_id"), col("chunk_idx")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    out.foreach { r =>
      val (lx, sm, mass) = (r.getAs[Long]("lex_rank"),
        r.getAs[Long]("sem_rank"), r.getAs[Long]("rrf_micro"))
      // the fused mass is a pure integer function of the two ranks
      val want = (if (lx > 0) 1000000000L / (60L + lx) else 0L) +
        (if (sm > 0) 1000000000L / (60L + sm) else 0L)
      assert(mass == want, s"mass $mass != $want for ranks ($lx, $sm)")
      assert(lx > 0 || sm > 0, "candidate retrieved by neither member")
      assert(lx <= 50 && sm <= 50, "rank past the declared member depth")
      // the -1 pseudo-query id can never surface; ids decode to real
      // grid positions
      assert(grid((r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"))))
    }
    // the fusion is genuinely hybrid on this corpus: a candidate seen
    // by BOTH members tops candidates seen by one (the RRF argument) —
    // and both modalities surface somewhere in the served page
    assert(out.exists(_.getAs[Long]("lex_rank") > 0), "no lexical rows")
    assert(out.exists(_.getAs[Long]("sem_rank") > 0), "no semantic rows")
  }

  test("chunk_hybrid_serve equals the ad-hoc chunk_hybrid_rrf row-for-row (every hop transparent)") {
    val docs = TextOps.docs(spark, SF)
    val tbl = "graft_chunk_srv_spec"
    val path = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), tbl).toString
    Seq(tbl, s"${tbl}_vocab", s"${tbl}_post", s"${tbl}_post_stats")
      .foreach(t => graft.sources.Staged.drop(spark, t))
    val cd = Chunks.chunkDocs(docs).localCheckpoint(true)
    TextOps.writeDocVectorIndex(cd, tbl, path)
    TextOps.writeTextIndex(cd.select(col("doc_id"), col("text")),
      s"${tbl}_post", s"${path}_post")
    val served = Chunks.chunkHybridServe(spark, s"${tbl}_post", tbl,
      s"${tbl}_vocab").collect().map(_.toSeq).toSet
    val adhoc = Chunks.chunkHybridRrf(spark, cd, tbl, s"${tbl}_vocab")
      .collect().map(_.toSeq).toSet
    assert(adhoc.nonEmpty && served == adhoc,
      s"served ${served.size} vs ad-hoc ${adhoc.size}")
  }

  test("live chunk-hybrid probe: each arriving query's rows equal the batch row set; blank queries emit nothing") {
    val docs = TextOps.docs(spark, SF)
    val tbl = "graft_chunk_live_spec"
    val path = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), tbl).toString
    Seq(tbl, s"${tbl}_vocab", s"${tbl}_post", s"${tbl}_post_stats")
      .foreach(t => graft.sources.Staged.drop(spark, t))
    val cd = Chunks.chunkDocs(docs).localCheckpoint(true)
    TextOps.writeDocVectorIndex(cd, tbl, path)
    TextOps.writeTextIndex(cd.select(col("doc_id"), col("text")),
      s"${tbl}_post", s"${path}_post")
    // two real queries + a blank one, split across micro-batches
    val queries = Seq(
      (1L, "vector stream window hash"),
      (2L, "merge join filter"),
      (3L, "   ")).toDF("query_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_chunk_live").toString
    queries.repartition(3).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = graft.streaming.Streaming.runChunkHybridProbe(spark, stream,
        s"${tbl}_post", tbl, s"${tbl}_vocab") { b =>
      val rows = b.collect().map(_.toSeq)
      buf.synchronized { buf ++= rows }
    }
    q.processAllAvailable(); q.stop()
    val byQuery = buf.toSeq.groupBy(_.last.asInstanceOf[Long])
      .map { case (qid, rows) => qid -> rows.map(_.dropRight(1)).toSet }
    val want1 = Chunks.chunkHybridServe(spark, s"${tbl}_post", tbl,
        s"${tbl}_vocab", Seq("vector", "stream", "window", "hash"))
      .collect().map(_.toSeq).toSet
    val want2 = Chunks.chunkHybridServe(spark, s"${tbl}_post", tbl,
        s"${tbl}_vocab", Seq("merge", "join", "filter"))
      .collect().map(_.toSeq).toSet
    assert(want1.nonEmpty && byQuery.get(1L).contains(want1),
      s"query 1: ${byQuery.get(1L).map(_.size)} vs ${want1.size}")
    assert(want2.nonEmpty && byQuery.get(2L).contains(want2),
      s"query 2: ${byQuery.get(2L).map(_.size)} vs ${want2.size}")
    assert(!byQuery.contains(3L), "blank query emitted rows")
  }

  test("chunkDedup: clean corpus keeps everything; empty docs drop out") {
    val d = df(1L -> "a b c", 2L -> "d e f", 3L -> "", 4L -> "   ")
    val out = Chunks.chunkDedup(d, width = 2).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L))
    out.foreach { r =>
      assert(r.getAs[Long]("n_dup") == 0L)
      assert(r.getAs[Long]("n_kept") == r.getAs[Long]("n_chunks"))
      assert(r.getAs[Long]("words_kept") == r.getAs[Long]("words_total"))
    }
  }
}
