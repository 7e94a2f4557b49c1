package graft.sql

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, Lower, StringTrim, Upper}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType

import graft.expressions.{CosineSim, FreqSketch, HyperplaneBuckets, MinHashSig, PortableSimHashSig, SimHashSig, TextStats, TopKBy}

/** Session-extension entry point — the idiomatic way to ship an engine as
  * a library: users add
  * `spark.sql.extensions=graft.sql.GraftExtensions` and every session in
  * the cluster gets the native functions and optimizer rules with no
  * per-session registration call.
  *
  * Injects:
  *  - the native expressions as SQL functions (`minhash_sig`,
  *    `simhash_sig`, `portable_simhash_sig`, `cosine_sim`,
  *    `text_stats`, `hyperplane_buckets`, and the bounded `topk_by`
  *    aggregate);
  *  - [[CollapseRedundantNormalization]], an optimizer rule for the
  *    cleansing-expression library.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(t) => MinHashSig(t, 3, 64)
        case Seq(t, Literal(k: Int, _), Literal(n: Int, _)) =>
          MinHashSig(t, k, n)
        case _ => throw new IllegalArgumentException(
          "minhash_sig(text[, k, numHashes]) — k and numHashes must be " +
            "integer literals")
      }))
    ext.injectFunction((FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(classOf[SimHashSig].getName, "simhash_sig"),
      (exprs: Seq[Expression]) => SimHashSig(exprs.head)))
    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("text_stats"),
      new ExpressionInfo(classOf[TextStats].getName, "text_stats"),
      (exprs: Seq[Expression]) => TextStats(exprs.head,
        graft.operators.TextAnalysis.englishStopwords,
        graft.operators.TextAnalysis.defaultLangProfiles.map(_._2))))
    ext.injectFunction((FunctionIdentifier("hyperplane_buckets"),
      new ExpressionInfo(classOf[HyperplaneBuckets].getName,
        "hyperplane_buckets"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(v, Literal(dim: Int, _), Literal(planes: Int, _),
            Literal(seed, _), Literal(probes: Int, _)) =>
          val s = seed match {
            case l: Long => l
            case i: Int => i.toLong
            case other => throw new IllegalArgumentException(
              s"seed must be an integer literal, got $other")
          }
          HyperplaneBuckets(v, graft.operators.Similarity
            .hyperplanes(dim, planes, s).map(_.toArray).toArray, probes)
        case _ => throw new IllegalArgumentException(
          "hyperplane_buckets(vec, dim, planes, seed, probes) — config " +
            "args must be integer literals")
      }))
    ext.injectFunction((FunctionIdentifier("portable_simhash_sig"),
      new ExpressionInfo(classOf[PortableSimHashSig].getName,
        "portable_simhash_sig"),
      (exprs: Seq[Expression]) => PortableSimHashSig(exprs.head)))
    ext.injectFunction((FunctionIdentifier("topk_by"),
      new ExpressionInfo(classOf[TopKBy].getName, "topk_by"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(ord, id, Literal(k: Int, _)) =>
          TopKBy(ord, id, k).toAggregateExpression()
        case _ => throw new IllegalArgumentException(
          "topk_by(ord, id, k) — k must be an integer literal")
      }))
    ext.injectFunction((FunctionIdentifier("freq_sketch"),
      new ExpressionInfo(classOf[FreqSketch].getName, "freq_sketch"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(item, Literal(k: Int, _)) =>
          FreqSketch(item, k).toAggregateExpression()
        case _ => throw new IllegalArgumentException(
          "freq_sketch(item, k) — k must be an integer literal")
      }))
    // Curation library as SQL functions. These are COMPOSED Column
    // expressions (not custom Catalyst nodes), bridged via
    // ColumnBridge — SQL users get the same codegen'd trees the Scala
    // API builds.
    import org.apache.spark.sql.graft.ColumnBridge.{column => col_, analyzableExpression => expr_}
    import graft.operators.Curation
    ext.injectFunction((FunctionIdentifier("sample_key"),
      new ExpressionInfo(Curation.getClass.getName, "sample_key"),
      (exprs: Seq[Expression]) => expr_(Curation.sampleKey(col_(exprs.head)))))
    ext.injectFunction((FunctionIdentifier("redact_pii"),
      new ExpressionInfo(Curation.getClass.getName, "redact_pii"),
      (exprs: Seq[Expression]) => expr_(Curation.redactPii(col_(exprs.head)))))
    ext.injectFunction((FunctionIdentifier("dup_ngram_frac"),
      new ExpressionInfo(Curation.getClass.getName, "dup_ngram_frac"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(t, Literal(n: Int, _)) =>
          expr_(Curation.dupNgramFrac(col_(t), n))
        case _ => throw new IllegalArgumentException(
          "dup_ngram_frac(text, n) — n must be an integer literal")
      }))
    ext.injectFunction((FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(Curation.getClass.getName, "word_ngrams"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(t, Literal(n: Int, _)) =>
          expr_(Curation.wordNgrams(col_(t), n))
        case _ => throw new IllegalArgumentException(
          "word_ngrams(text, n) — n must be an integer literal")
      }))
    ext.injectFunction((FunctionIdentifier("char_ngrams"),
      new ExpressionInfo(
        graft.operators.TextAnalysis.getClass.getName, "char_ngrams"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(t, Literal(nMin: Int, _), Literal(nMax: Int, _)) =>
          expr_(graft.operators.TextAnalysis
            .charNgrams(col_(t), nMin, nMax))
        case _ => throw new IllegalArgumentException(
          "char_ngrams(text, nMin, nMax) — bounds must be integer " +
            "literals")
      }))
    ext.injectFunction((FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(
        classOf[graft.expressions.NfcNormalizeExpr].getName,
        "nfc_normalize"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(t) => graft.expressions.NfcNormalizeExpr(t)
        case _ => throw new IllegalArgumentException(
          "nfc_normalize(text) takes exactly one argument")
      }))
    ext.injectFunction((FunctionIdentifier("hash_embed"),
      new ExpressionInfo(
        classOf[graft.expressions.HashEmbedExpr].getName,
        "hash_embed"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(t, Literal(dim: Int, _)) =>
          graft.expressions.HashEmbedExpr(t, dim, "he")
        case Seq(t, Literal(dim: Int, _), Literal(s: Any, _))
            if s != null =>
          graft.expressions.HashEmbedExpr(t, dim, s.toString)
        case _ => throw new IllegalArgumentException(
          "hash_embed(text, dim[, seed]) — dim an integer literal, " +
            "seed a string literal")
      }))
    ext.injectFunction((FunctionIdentifier("byte_map_encode"),
      new ExpressionInfo(
        classOf[graft.expressions.ByteMapEncodeExpr].getName,
        "byte_map_encode"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(t) => graft.expressions.ByteMapEncodeExpr(t)
        case _ => throw new IllegalArgumentException(
          "byte_map_encode(text) takes exactly one argument")
      }))
    ext.injectFunction((FunctionIdentifier("byte_map_decode"),
      new ExpressionInfo(
        classOf[graft.expressions.ByteMapDecodeExpr].getName,
        "byte_map_decode"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(t) => graft.expressions.ByteMapDecodeExpr(t)
        case _ => throw new IllegalArgumentException(
          "byte_map_decode(text) takes exactly one argument")
      }))
    ext.injectFunction((FunctionIdentifier("random_project"),
      new ExpressionInfo(
        graft.operators.Similarity.getClass.getName, "random_project"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(v, Literal(inDim: Int, _), Literal(outDim: Int, _),
            Literal(seed: org.apache.spark.unsafe.types.UTF8String, _)) =>
          expr_(graft.operators.Similarity.randomProject(
            col_(v), inDim, outDim, seed.toString))
        case _ => throw new IllegalArgumentException(
          "random_project(vec, inDim, outDim, seed) — dims must be " +
            "integer literals, seed a string literal")
      }))
    ext.injectFunction((FunctionIdentifier("int8_quantize"),
      new ExpressionInfo(
        graft.operators.Similarity.getClass.getName, "int8_quantize"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(v) =>
          expr_(graft.operators.Similarity.int8Quantize(col_(v)))
        case _ => throw new IllegalArgumentException(
          "int8_quantize(vec) takes exactly one argument")
      }))
    ext.injectFunction((FunctionIdentifier("int8_dequantize"),
      new ExpressionInfo(
        graft.operators.Similarity.getClass.getName, "int8_dequantize"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(qs) =>
          expr_(graft.operators.Similarity.int8Dequantize(col_(qs)))
        case _ => throw new IllegalArgumentException(
          "int8_dequantize(qs) takes exactly one argument")
      }))
    ext.injectFunction((FunctionIdentifier("gopher_report"),
      new ExpressionInfo(Curation.getClass.getName, "gopher_report"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(t) => expr_(Curation.gopherReportFused(col_(t)))
        case _ => throw new IllegalArgumentException(
          "gopher_report(text) takes exactly one argument")
      }))
    ext.injectFunction((FunctionIdentifier("gopher_pass"),
      new ExpressionInfo(Curation.getClass.getName, "gopher_pass"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(t) =>
          expr_(Curation.gopherPass(Curation.gopherReportFused(col_(t))))
        case _ => throw new IllegalArgumentException(
          "gopher_pass(text) takes exactly one argument")
      }))
    ext.injectFunction((FunctionIdentifier("html_to_text"),
      new ExpressionInfo(Curation.getClass.getName, "html_to_text"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(t) => expr_(Curation.htmlToText(col_(t)))
        case _ => throw new IllegalArgumentException(
          "html_to_text(html) takes exactly one argument")
      }))
    ext.injectFunction((FunctionIdentifier("c4_line_clean"),
      new ExpressionInfo(Curation.getClass.getName, "c4_line_clean"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(t) => expr_(Curation.c4LineClean(col_(t)))
        case Seq(t, Literal(mw: Int, _), Literal(ml: Int, _)) =>
          expr_(Curation.c4LineClean(col_(t), mw, ml))
        case _ => throw new IllegalArgumentException(
          "c4_line_clean(text[, min_line_words, min_lines]) — bounds " +
            "must be integer literals")
      }))
    ext.injectFunction((FunctionIdentifier("hash_draw"),
      new ExpressionInfo(Curation.getClass.getName, "hash_draw"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(k) => expr_(Curation.hashDraw(col_(k)))
        case _ => throw new IllegalArgumentException(
          "hash_draw(key) takes exactly one argument")
      }))
    ext.injectFunction((FunctionIdentifier("linear_score"),
      new ExpressionInfo(Curation.getClass.getName, "linear_score"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(f, arr: org.apache.spark.sql.catalyst.expressions
            .CreateArray, Literal(b, _)) =>
          val ws = arr.children.map {
            case Literal(w: Double, _) => w
            case Literal(w: java.math.BigDecimal, _) => w.doubleValue()
            case Literal(w: org.apache.spark.sql.types.Decimal, _) =>
              w.toDouble
            case Literal(w: Int, _) => w.toDouble
            case Literal(w: Long, _) => w.toDouble
            case other => throw new IllegalArgumentException(
              s"linear_score weights must be numeric literals: $other")
          }
          val bias = b match {
            case d: Double => d
            case d: java.math.BigDecimal => d.doubleValue()
            case d: org.apache.spark.sql.types.Decimal => d.toDouble
            case i: Int => i.toDouble
            case l: Long => l.toDouble
            case other => throw new IllegalArgumentException(
              s"linear_score bias must be a numeric literal: $other")
          }
          expr_(Curation.linearScore(col_(f), ws, bias))
        case _ => throw new IllegalArgumentException(
          "linear_score(features, array(w1, w2, ...), bias) — weights " +
            "and bias must be numeric literals")
      }))
    ext.injectFunction((FunctionIdentifier("chunk_tokens"),
      new ExpressionInfo(Curation.getClass.getName, "chunk_tokens"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(t, Literal(size: Int, _), Literal(ov: Int, _)) =>
          expr_(Curation.chunkTokens(col_(t), size, ov))
        case _ => throw new IllegalArgumentException(
          "chunk_tokens(text, chunkSize, overlap) — sizes must be " +
            "integer literals")
      }))
    // Quantile-sketch bucket math as SQL functions: SQL pipelines can
    // build the deterministic log-histogram sketches of
    // graft.ops.QuantileSketch with plain aggregates (GROUP BY
    // log_bucket(v, m) + COUNT, merge by SUM) and decode estimates
    // with log_bucket_hi — the same integer expressions the Scala API
    // composes, so SQL- and Scala-built sketches are bit-identical.
    ext.injectFunction((FunctionIdentifier("log_bucket"),
      new ExpressionInfo(graft.ops.QuantileSketch.getClass.getName,
        "log_bucket"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(v, Literal(m: Int, _)) =>
          expr_(graft.ops.QuantileSketch.bucketOf(col_(v), m))
        case _ => throw new IllegalArgumentException(
          "log_bucket(value, m) — m must be an integer literal")
      }))
    ext.injectFunction((FunctionIdentifier("log_bucket_hi"),
      new ExpressionInfo(graft.ops.QuantileSketch.getClass.getName,
        "log_bucket_hi"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(b, Literal(m: Int, _)) =>
          expr_(graft.ops.QuantileSketch.bucketHi(col_(b), m))
        case _ => throw new IllegalArgumentException(
          "log_bucket_hi(bucket, m) — m must be an integer literal")
      }))
    // Count-Min bucket math as a SQL function, same contract as
    // log_bucket: SQL pipelines build the CM cell table with
    // GROUP BY row, cm_bucket(item, row, width) + COUNT, merge by SUM,
    // and probe with MIN over the rows — bit-identical to the frames
    // graft.ops.CountMin composes.
    ext.injectFunction((FunctionIdentifier("cm_bucket"),
      new ExpressionInfo(graft.ops.CountMin.getClass.getName, "cm_bucket"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(item, Literal(row: Int, _), Literal(w: Int, _)) =>
          expr_(graft.ops.CountMin.bucket(col_(item), row, w))
        case _ => throw new IllegalArgumentException(
          "cm_bucket(item, row, width) — row and width must be integer " +
            "literals")
      }))
    // Persisted-vector-store ANN as a TABLE function: the store query
    // is a relation (rank/vec_id/cosine rows), not a scalar, so it
    // rides injectTableFunction — `SELECT * FROM vector_topk(dir,
    // array(...), k, nprobe)`. The builder runs VectorStore.topK and
    // splices its logical plan in; the probe planning (one bounded
    // centroid job) runs at resolution time, which is the same
    // control-plane cost the Scala API pays.
    ext.injectTableFunction((FunctionIdentifier("vector_topk"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "vector_topk"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(Literal(dir, StringType),
            arr: org.apache.spark.sql.catalyst.expressions.CreateArray,
            Literal(k: Int, _), Literal(np: Int, _)) =>
          val vec = arr.children.map {
            case Literal(v: Double, _) => v
            case Literal(v: java.math.BigDecimal, _) => v.doubleValue()
            case Literal(v: org.apache.spark.sql.types.Decimal, _) =>
              v.toDouble
            case Literal(v: Int, _) => v.toDouble
            case Literal(v: Long, _) => v.toDouble
            case other => throw new IllegalArgumentException(
              s"vector_topk query-vector elements must be numeric " +
                s"literals: $other")
          }
          val spark = org.apache.spark.sql.SparkSession.active
          import spark.implicits._
          val queries = Seq((0L, vec)).toDF("qid", "qv")
          graft.pipelines.VectorStore
            .topK(spark, String.valueOf(dir), queries, "qid", "qv", k, np)
            .select("rank", "vec_id", "cosine")
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "vector_topk(dir, array(v1, v2, ...), k, nprobe) — dir, the " +
            "vector elements, k and nprobe must be literals")
      }))
    // Text-retrieval relations as TABLE functions (vector_topk
    // precedent): BM25 search, asymmetric containment, and group-level
    // TF-IDF each return a relation, so a SQL-only user of the injected
    // surface can retrieve and audit a corpus, not just sketch and
    // MERGE. Each takes a parquet PATH literal (a table argument would
    // need polymorphic TVF support) plus column-name literals, builds
    // the same operator plan the Scala API composes, and splices in its
    // logical plan; the sql2 gate replays bm25_topk's math in DuckDB.
    def strLit(e: Expression, what: String): String = e match {
      case Literal(s, StringType) => String.valueOf(s)
      case other => throw new IllegalArgumentException(
        s"$what must be a string literal, got $other")
    }
    def numLit(e: Expression, what: String): Double = e match {
      case Literal(v: Double, _) => v
      case Literal(v: java.math.BigDecimal, _) => v.doubleValue()
      case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
      case Literal(v: Int, _) => v.toDouble
      case Literal(v: Long, _) => v.toDouble
      case other => throw new IllegalArgumentException(
        s"$what must be a numeric literal, got $other")
    }
    ext.injectTableFunction((FunctionIdentifier("bm25_topk"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "bm25_topk"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p, idc, tc, q, Literal(k: Int, _), rest @ _*)
            if rest.length <= 1 =>
          val spark = org.apache.spark.sql.SparkSession.active
          import spark.implicits._
          val docs = spark.read.parquet(strLit(p, "bm25_topk path"))
          val queries = Seq((0L, strLit(q, "bm25_topk query")))
            .toDF("__qid", "__qtext")
          val maxDfFrac = rest.headOption
            .map(numLit(_, "bm25_topk maxDfFrac")).getOrElse(1.0)
          graft.operators.TextAnalysis.bm25TopK(docs,
            strLit(idc, "bm25_topk idCol"), strLit(tc, "bm25_topk textCol"),
            queries, "__qid", "__qtext", k, maxDfFrac = maxDfFrac)
            .drop("__qid")
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "bm25_topk(path, idCol, textCol, queryText, k[, maxDfFrac]) — " +
            "all arguments must be literals (k an integer)")
      }))
    // one-call corpus summary from SQL text — the cd1 operator as a
    // relation: SELECT * FROM dataset_card('corpus.parquet', 'text',
    // 'lang')
    ext.injectTableFunction((FunctionIdentifier("dataset_card"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "dataset_card"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p, tc, lc) =>
          val spark = org.apache.spark.sql.SparkSession.active
          graft.operators.Curation.datasetCard(
            spark.read.parquet(strLit(p, "dataset_card path")),
            strLit(tc, "dataset_card textCol"),
            strLit(lc, "dataset_card langCol"))
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "dataset_card(path, textCol, langCol) — all arguments must " +
            "be string literals")
      }))
    // link-graph PageRank as a TABLE function over a parquet edge list
    // (src, dst, weight): SELECT * FROM graph_pagerank('edges.parquet',
    // 10[, 0.85]). The iterations run eagerly at resolution (pageRank
    // materializes each step); the relation handed back is the final
    // cached rank table — (node, rank_fp, rank).
    ext.injectTableFunction((FunctionIdentifier("graph_pagerank"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "graph_pagerank"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p, Literal(iters: Int, _), rest @ _*)
            if rest.length <= 1 =>
          val spark = org.apache.spark.sql.SparkSession.active
          val damping = rest.headOption
            .map(numLit(_, "graph_pagerank damping")).getOrElse(0.85)
          graft.operators.WebGraph.pageRank(
            spark.read.parquet(strLit(p, "graph_pagerank path")),
            iters = iters, damping = damping)
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "graph_pagerank(path, iters[, damping]) — path a string " +
            "literal, iters an integer literal")
      }))
    // HITS hubs & authorities as a TABLE function over the same edge
    // shape: SELECT * FROM graph_hits('edges.parquet', 5) →
    // (node, auth_fp, hub_fp, auth, hub). sql9-gated against the wg4
    // oracle — the SQL path must land on the same fixed-point longs.
    ext.injectTableFunction((FunctionIdentifier("graph_hits"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "graph_hits"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p, Literal(iters: Int, _)) =>
          val spark = org.apache.spark.sql.SparkSession.active
          graft.operators.WebGraph.hits(
            spark.read.parquet(strLit(p, "graph_hits path")),
            iters = iters)
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "graph_hits(path, iters) — path a string literal, iters an " +
            "integer literal")
      }))
    // connected components as a TABLE function over the same edge
    // shape: SELECT * FROM graph_components('edges.parquet') →
    // (node, component_rep, n_members). sql11-gated against the wg5
    // recursive-closure oracle.
    ext.injectTableFunction((FunctionIdentifier("graph_components"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "graph_components"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p) =>
          val spark = org.apache.spark.sql.SparkSession.active
          graft.operators.WebGraph.components(
            spark.read.parquet(strLit(p, "graph_components path")))
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "graph_components(path) — path must be a string literal")
      }))
    // label-propagation communities from SQL — structure INSIDE the
    // giant component. SELECT * FROM graph_labelprop('edges.parquet',
    // 5) → (node, community_rep, n_members). sql13-gated against the
    // same unrolled-round replay as wg8.
    ext.injectTableFunction((FunctionIdentifier("graph_labelprop"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "graph_labelprop"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p, Literal(iters: Int, _)) =>
          val spark = org.apache.spark.sql.SparkSession.active
          graft.operators.WebGraph.labelProp(
            spark.read.parquet(strLit(p, "graph_labelprop path")),
            iters = iters)
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "graph_labelprop(path, iters) — a string and an integer " +
            "literal")
      }))
    // corpus tokenization from SQL text: seed a unigram vocabulary
    // from the corpus itself and Viterbi-encode every document —
    // SELECT * FROM unigram_tokens('corpus.parquet', 'doc_id', 'text',
    // 200, 8) → (id, token_ids, score_mu, n_tok). sql8-gated against
    // the same DuckDB DP replay as t18c.
    ext.injectTableFunction((FunctionIdentifier("unigram_tokens"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "unigram_tokens"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p, idc, tc, Literal(vocabSize: Int, _),
            Literal(maxPieceLen: Int, _)) =>
          val spark = org.apache.spark.sql.SparkSession.active
          val docs = spark.read.parquet(strLit(p, "unigram_tokens path"))
          val idCol = strLit(idc, "unigram_tokens idCol")
          val textCol = strLit(tc, "unigram_tokens textCol")
          val wf = graft.operators.TextAnalysis.bpeWordFreq(docs, textCol)
          // seed phase bracketed: the vocabulary is collected (fully
          // materialized), so seedVocab's internal substring cache can
          // release at bracket exit instead of leaking into the
          // session scope on every SQL invocation
          val vocab = graft.CacheScope.withScope { implicit s =>
            graft.operators.Unigram
              .seedVocab(wf, vocabSize, maxPieceLen)
              .select(org.apache.spark.sql.functions.col("piece"),
                org.apache.spark.sql.functions.col("cost_mu"))
              .collect().map(r => (r.getString(0), r.getLong(1)))
              .toIndexedSeq
          }
          val (_, perDoc) = graft.operators.Unigram.encodeCorpus(
            docs, idCol, textCol, vocab)
          perDoc.queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "unigram_tokens(path, idCol, textCol, vocabSize, " +
            "maxPieceLen) — strings and integer literals")
      }))
    // WordPiece corpus tokenization from SQL text — the greedy
    // (BERT-family) counterpart of unigram_tokens: build a positional
    // ##-form vocabulary from the corpus itself and greedy-encode every
    // document. SELECT * FROM wordpiece_tokens('corpus.parquet',
    // 'doc_id', 'text', 200, 8) → (id, token_ids, n_unk, n_tok).
    // sql10-gated against the same unrolled greedy replay as t20c.
    ext.injectTableFunction((FunctionIdentifier("wordpiece_tokens"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "wordpiece_tokens"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p, idc, tc, Literal(vocabSize: Int, _),
            Literal(maxPieceLen: Int, _)) =>
          val spark = org.apache.spark.sql.SparkSession.active
          val docs = spark.read.parquet(strLit(p, "wordpiece_tokens path"))
          val idCol = strLit(idc, "wordpiece_tokens idCol")
          val textCol = strLit(tc, "wordpiece_tokens textCol")
          val wf = graft.operators.TextAnalysis.bpeWordFreq(docs, textCol)
          val pieces = graft.CacheScope.withScope { implicit s =>
            graft.operators.WordPiece.vocab(wf, vocabSize, maxPieceLen)
              .select(org.apache.spark.sql.functions.col("piece"))
              .collect().map(_.getString(0)).toIndexedSeq
          }
          val (_, perDoc) = graft.operators.WordPiece.encodeCorpus(
            docs, idCol, textCol, pieces)
          perDoc.queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "wordpiece_tokens(path, idCol, textCol, vocabSize, " +
            "maxPieceLen) — strings and integer literals")
      }))
    // Byte-level BPE corpus tokenization from SQL text — the GPT-2
    // family next to unigram_tokens/wordpiece_tokens: train nMerges
    // byte-alphabet merges on the corpus itself and emit every
    // document's token-ID sequence (no [UNK] possible — the base
    // alphabet is all 256 bytes). SELECT * FROM byte_bpe_tokens(
    // 'corpus.parquet', 'doc_id', 'text', 30) → (id, token_ids,
    // n_tok). sql12-gated against the first-principles byte-map +
    // merge-chain replay.
    //
    // COST NOTE (shared by all three tokenizer TVFs, but heaviest
    // here because the work is TRAINING, not a bounded read): the
    // builder body runs at analysis/resolution time, so each
    // re-analysis of a statement referencing this TVF — every
    // reference in a view, every re-plan, even an EXPLAIN — re-trains
    // the merges (word-freq aggregation + nMerges iterations + two
    // bounded collects). This is the one-call convenience posture for
    // ad-hoc SQL; the scale path is TokenizerStore (train once,
    // persist, encode everywhere with frozen ids).
    ext.injectTableFunction((FunctionIdentifier("byte_bpe_tokens"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "byte_bpe_tokens"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p, idc, tc, Literal(nMerges: Int, _)) =>
          val spark = org.apache.spark.sql.SparkSession.active
          val docs = spark.read.parquet(strLit(p, "byte_bpe_tokens path"))
          val idCol = strLit(idc, "byte_bpe_tokens idCol")
          val textCol = strLit(tc, "byte_bpe_tokens textCol")
          val wf = graft.operators.ByteBpe.byteWordFreq(docs, textCol)
          val merges = graft.operators.ByteBpe.train(wf, nMerges)
            .orderBy(org.apache.spark.sql.functions.col("iter"))
            .collect().map(r => (r.getString(1), r.getString(2))).toSeq
          val (_, perDoc) = graft.operators.ByteBpe.encodeCorpus(
            docs, idCol, textCol, merges)
          perDoc.queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "byte_bpe_tokens(path, idCol, textCol, nMerges) — strings " +
            "and an integer literal")
      }))
    // STORED-MODEL corpus tokenization — the scale path the three
    // training TVFs above point at: the model comes from a committed
    // TokenizerStore directory (train once, elsewhere), so resolution
    // cost is one bounded model read instead of a training run, and
    // token ids are the store's frozen ids (shard-stable across every
    // job that encodes through the same dir). Dispatches on the
    // recorded family — a SQL user cannot apply a model with the wrong
    // encoder. SELECT * FROM tokenizer_encode('store_dir',
    // 'corpus.parquet', 'doc_id', 'text') → the family's perDoc frame.
    // sql14-gated: a byte-BPE store written mid-gate must reproduce
    // sql12's first-principles replay bit for bit.
    ext.injectTableFunction((FunctionIdentifier("tokenizer_encode"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "tokenizer_encode"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(sd, p, idc, tc) =>
          val spark = org.apache.spark.sql.SparkSession.active
          val storeDir = strLit(sd, "tokenizer_encode storeDir")
          val docs = spark.read.parquet(
            strLit(p, "tokenizer_encode path"))
          val (_, perDoc) = graft.pipelines.TokenizerStore.encodeCorpus(
            spark, storeDir, docs,
            strLit(idc, "tokenizer_encode idCol"),
            strLit(tc, "tokenizer_encode textCol"))(
            graft.CacheScope.session)
          perDoc.queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "tokenizer_encode(storeDir, path, idCol, textCol) — four " +
            "string literals")
      }))
    // the inverse leg from SQL: decode per-doc token ids back through
    // the STORED model's family dispatch. SELECT * FROM
    // tokenizer_decode('store_dir', 'tokens.parquet', 'doc_id',
    // 'token_ids') → the input frame + a `decoded` string column
    // (byte-sp: exact text; wordpiece: marker-resolved words;
    // unigram/char: space-joined pieces). sql15-gated against the t25
    // roundtrip chain.
    ext.injectTableFunction((FunctionIdentifier("tokenizer_decode"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "tokenizer_decode"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(sd, p, idc, tic) =>
          val spark = org.apache.spark.sql.SparkSession.active
          val storeDir = strLit(sd, "tokenizer_decode storeDir")
          val perDoc = spark.read.parquet(
            strLit(p, "tokenizer_decode path"))
          graft.pipelines.TokenizerStore.decodeCorpus(
            spark, storeDir, perDoc.select(
              org.apache.spark.sql.functions.col(
                strLit(idc, "tokenizer_decode idCol")),
              org.apache.spark.sql.functions.col(
                strLit(tic, "tokenizer_decode idsCol"))),
            strLit(tic, "tokenizer_decode idsCol"))
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "tokenizer_decode(storeDir, path, idCol, idsCol) — four " +
            "string literals")
      }))
    // store-backed variant: same scoring expression, but the relation
    // comes from a persisted IndexStore directory (bucket-pruned
    // postings), so a SQL user can query a corpus index maintained
    // incrementally by another job
    ext.injectTableFunction((FunctionIdentifier("bm25_store_topk"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "bm25_store_topk"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(dir, q, Literal(k: Int, _), rest @ _*)
            if rest.length <= 1 =>
          val spark = org.apache.spark.sql.SparkSession.active
          import spark.implicits._
          val queries = Seq((0L, strLit(q, "bm25_store_topk query")))
            .toDF("__qid", "__qtext")
          val maxDfFrac = rest.headOption
            .map(numLit(_, "bm25_store_topk maxDfFrac")).getOrElse(1.0)
          graft.pipelines.IndexStore.bm25TopK(spark,
            strLit(dir, "bm25_store_topk dir"), queries, "__qid",
            "__qtext", k, maxDfFrac = maxDfFrac)
            .drop("__qid")
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "bm25_store_topk(storeDir, queryText, k[, maxDfFrac]) — all " +
            "arguments must be literals (k an integer)")
      }))
    // hybrid lexical+semantic retrieval as a TABLE function: BM25 over
    // a parquet corpus fused (reciprocal-rank) with exact cosine over a
    // parquet vector table whose id space coincides — the query arrives
    // as text AND an array literal (vector_topk precedent)
    ext.injectTableFunction((FunctionIdentifier("hybrid_topk"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "hybrid_topk"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(dp, idc, tc, vp, vidc, vc, q,
            arr: org.apache.spark.sql.catalyst.expressions.CreateArray,
            Literal(k: Int, _), Literal(depth: Int, _)) =>
          // CreateArray coerces elements to a common type by WRAPPING
          // literals in Cast, so match foldability and evaluate rather
          // than pattern-match bare Literals
          val vec = arr.children.map { e =>
            if (!e.foldable) throw new IllegalArgumentException(
              s"hybrid_topk query-vector elements must be numeric " +
                s"literals: $e")
            e.eval(org.apache.spark.sql.catalyst.InternalRow.empty) match {
              case v: org.apache.spark.sql.types.Decimal => v.toFloat
              case v: java.lang.Number => v.floatValue()
              case other => throw new IllegalArgumentException(
                s"hybrid_topk query-vector elements must be numeric " +
                  s"literals: $other")
            }
          }
          val spark = org.apache.spark.sql.SparkSession.active
          import spark.implicits._
          val idCol = strLit(idc, "hybrid_topk idCol")
          val docs = spark.read.parquet(strLit(dp, "hybrid_topk docsPath"))
          val vecs = spark.read.parquet(strLit(vp, "hybrid_topk vecsPath"))
            .withColumnRenamed(strLit(vidc, "hybrid_topk vecIdCol"), idCol)
          val queries = Seq((0L, strLit(q, "hybrid_topk query"), vec))
            .toDF("__qid", "__qtext", "__qv")
          graft.operators.HybridRetrieval.hybridTopK(docs, vecs, idCol,
            strLit(tc, "hybrid_topk textCol"),
            strLit(vc, "hybrid_topk vecCol"), queries, "__qid",
            "__qtext", "__qv", k, depth)
            .drop("__qid")
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "hybrid_topk(docsPath, idCol, textCol, vecsPath, vecIdCol, " +
            "vecCol, queryText, array(v1, ...), k, depth) — all " +
            "arguments must be literals (k, depth integers)")
      }))
    ext.injectTableFunction((FunctionIdentifier("bigram_lm_score"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "bigram_lm_score"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p, idc, tc, tp, ttc, rest @ _*) if rest.size <= 1 =>
          val spark = org.apache.spark.sql.SparkSession.active
          val docs = spark.read.parquet(strLit(p, "bigram_lm_score path"))
          val train = spark.read.parquet(
            strLit(tp, "bigram_lm_score trainPath"))
          val alpha = rest.headOption
            .map(numLit(_, "bigram_lm_score alpha")).getOrElse(0.5)
          val lm = graft.operators.TextAnalysis.bigramLm(train,
            strLit(ttc, "bigram_lm_score trainTextCol"))
          graft.operators.TextAnalysis.bigramLogProb(docs,
            strLit(idc, "bigram_lm_score idCol"),
            strLit(tc, "bigram_lm_score textCol"), lm, alpha)
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "bigram_lm_score(path, idCol, textCol, trainPath, " +
            "trainTextCol[, alpha]) — all arguments must be literals")
      }))
    // full-CCNet-order fluency scoring from SQL text: the t17 hashed
    // 5-gram stupid-backoff scorer as a relation — SELECT * FROM
    // hashed5_lm_score('corpus.parquet', 'doc_id', 'text',
    // 'wiki.parquet', 'text'[, alpha[, backoff]])
    ext.injectTableFunction((FunctionIdentifier("hashed5_lm_score"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "hashed5_lm_score"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p, idc, tc, tp, ttc, rest @ _*) if rest.size <= 2 =>
          val spark = org.apache.spark.sql.SparkSession.active
          val docs = spark.read.parquet(
            strLit(p, "hashed5_lm_score path"))
          val train = spark.read.parquet(
            strLit(tp, "hashed5_lm_score trainPath"))
          val alpha = rest.headOption
            .map(numLit(_, "hashed5_lm_score alpha")).getOrElse(0.5)
          val backoff = rest.lift(1)
            .map(numLit(_, "hashed5_lm_score backoff")).getOrElse(0.4)
          val lm = graft.operators.TextAnalysis.hashedNgramLm(train,
            strLit(ttc, "hashed5_lm_score trainTextCol"))
          graft.operators.TextAnalysis.hashed5gramLogProb(docs,
            strLit(idc, "hashed5_lm_score idCol"),
            strLit(tc, "hashed5_lm_score textCol"), lm, alpha,
            backoff)(graft.CacheScope.session)
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "hashed5_lm_score(path, idCol, textCol, trainPath, " +
            "trainTextCol[, alpha[, backoff]]) — all arguments must " +
            "be literals")
      }))
    // deterministic shuffle + shard assignment from SQL text —
    // SELECT * FROM shuffle_shards('corpus.parquet', 'doc_id', 8);
    // ord_key is the within-shard order draw (ORDER BY ord_key, id)
    ext.injectTableFunction((FunctionIdentifier("shuffle_shards"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "shuffle_shards"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p, idc, n) =>
          val spark = org.apache.spark.sql.SparkSession.active
          graft.operators.Curation.shuffleShards(
            spark.read.parquet(strLit(p, "shuffle_shards path")),
            strLit(idc, "shuffle_shards idCol"),
            numLit(n, "shuffle_shards nShards").toInt)
            .withColumnRenamed("__ord", "ord_key")
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "shuffle_shards(path, idCol, nShards) — all arguments must " +
            "be literals (nShards an integer)")
      }))
    // BPE tokenizer training as a TABLE function: (iter, lhs, rhs, cnt)
    // merges learned from a parquet corpus's word-frequency table
    ext.injectTableFunction((FunctionIdentifier("bpe_merges"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "bpe_merges"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p, tc, Literal(n: Int, _)) =>
          val spark = org.apache.spark.sql.SparkSession.active
          val docs = spark.read.parquet(strLit(p, "bpe_merges path"))
          graft.operators.TextAnalysis.bpeTrain(
            graft.operators.TextAnalysis.bpeWordFreq(docs,
              strLit(tc, "bpe_merges textCol")), n)(
            graft.CacheScope.session)
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "bpe_merges(path, textCol, nMerges) — all arguments must be " +
            "literals (nMerges an integer)")
      }))
    // Production BPE trainer as a TABLE function: same output contract
    // as bpe_merges (sequential-equivalent, spec-pinned), but the
    // classic incremental algorithm over the collapsed vocabulary —
    // zero Spark jobs per merge, the path to 32k-merge tokenizers
    ext.injectTableFunction((FunctionIdentifier("bpe_merges_local"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "bpe_merges_local"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p, tc, Literal(n: Int, _), rest @ _*) if rest.size <= 1 =>
          val spark = org.apache.spark.sql.SparkSession.active
          val docs = spark.read.parquet(strLit(p, "bpe_merges_local path"))
          val maxVocab = rest.headOption.map {
            case Literal(v: Int, _) => v
            case _ => throw new IllegalArgumentException(
              "bpe_merges_local maxVocab must be an integer literal")
          }.getOrElse(1 << 20)
          graft.operators.TextAnalysis.bpeTrainLocal(
            graft.operators.TextAnalysis.bpeWordFreq(docs,
              strLit(tc, "bpe_merges_local textCol")), n, maxVocab)
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "bpe_merges_local(path, textCol, nMerges[, maxVocab]) — all " +
            "arguments must be literals (nMerges/maxVocab integers)")
      }))
    // Naive Bayes classify as a TABLE function: train on a labeled
    // parquet corpus, score another — the bigram_lm_score shape
    ext.injectTableFunction((FunctionIdentifier("nb_classify"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "nb_classify"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p, idc, tc, lp, lc, ltc, rest @ _*) if rest.size <= 1 =>
          val spark = org.apache.spark.sql.SparkSession.active
          val docs = spark.read.parquet(strLit(p, "nb_classify path"))
          val labeled = spark.read.parquet(
            strLit(lp, "nb_classify labeledPath"))
          val alpha = rest.headOption
            .map(numLit(_, "nb_classify alpha")).getOrElse(1.0)
          val mdl = graft.operators.TextAnalysis.nbTrain(labeled,
            strLit(lc, "nb_classify labelCol"),
            strLit(ltc, "nb_classify labeledTextCol"))
          graft.operators.TextAnalysis.nbScore(docs,
            strLit(idc, "nb_classify idCol"),
            strLit(tc, "nb_classify textCol"), mdl, alpha)(
            graft.CacheScope.session)
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "nb_classify(path, idCol, textCol, labeledPath, labelCol, " +
            "labeledTextCol[, alpha]) — all arguments must be literals")
      }))
    ext.injectTableFunction((FunctionIdentifier("containment_pairs"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "containment_pairs"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p, idc, tc, Literal(k: Int, _), t, Literal(pk: Int, _),
            rest @ _*) if rest.size <= 2 =>
          val spark = org.apache.spark.sql.SparkSession.active
          val docs = spark.read.parquet(strLit(p, "containment_pairs path"))
          val maxPostings = rest.headOption
            .map(numLit(_, "containment_pairs maxPostings").toInt)
            .getOrElse(10000)
          // the all-hot-doc raise_error's own advice ("set
          // skipAllHotDocs=true") must be reachable from SQL too
          val skipAllHot = rest.drop(1).headOption.map {
            case Literal(b: Boolean, _) => b
            case other => throw new IllegalArgumentException(
              "containment_pairs skipAllHotDocs must be a boolean " +
                s"literal, got $other")
          }.getOrElse(false)
          graft.operators.Dedup.containmentPairs(docs,
            strLit(idc, "containment_pairs idCol"),
            strLit(tc, "containment_pairs textCol"),
            k = k, threshold = numLit(t, "containment_pairs threshold"),
            probeK = pk, maxPostings = maxPostings,
            skipAllHotDocs = skipAllHot)
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "containment_pairs(path, idCol, textCol, k, threshold, probeK" +
            "[, maxPostings[, skipAllHotDocs]]) — all arguments must " +
            "be literals")
      }))
    ext.injectTableFunction((FunctionIdentifier("tfidf_by_group"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "tfidf_by_group"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p, gc, tc, Literal(k: Int, _)) =>
          val spark = org.apache.spark.sql.SparkSession.active
          val docs = spark.read.parquet(strLit(p, "tfidf_by_group path"))
          graft.operators.TextAnalysis.tfIdfTopTermsByGroup(docs,
            strLit(gc, "tfidf_by_group groupCol"),
            strLit(tc, "tfidf_by_group textCol"), k)
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "tfidf_by_group(path, groupCol, textCol, k) — all arguments " +
            "must be literals (k an integer)")
      }))
    ext.injectTableFunction((FunctionIdentifier("repeated_spans"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "repeated_spans"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p, idc, tc, Literal(k: Int, _), Literal(mo: Int, _)) =>
          val spark = org.apache.spark.sql.SparkSession.active
          graft.operators.Dedup.repeatedSpans(
            spark.read.parquet(strLit(p, "repeated_spans path")),
            strLit(idc, "repeated_spans idCol"),
            strLit(tc, "repeated_spans textCol"), k, mo)
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "repeated_spans(path, idCol, textCol, k, minOcc) — all " +
            "arguments must be literals (k and minOcc integers)")
      }))
    ext.injectTableFunction((FunctionIdentifier("dsir_weights"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "dsir_weights"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p, idc, tc, tp, ttc, Literal(b: Int, _)) =>
          val spark = org.apache.spark.sql.SparkSession.active
          val raw = spark.read.parquet(strLit(p, "dsir_weights path"))
          val target = spark.read.parquet(
            strLit(tp, "dsir_weights targetPath"))
          graft.operators.Curation.dsirWeights(raw,
            strLit(idc, "dsir_weights idCol"),
            strLit(tc, "dsir_weights textCol"), target,
            strLit(ttc, "dsir_weights targetTextCol"), b)(
            graft.CacheScope.session)
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "dsir_weights(path, idCol, textCol, targetPath, targetTextCol" +
            ", buckets) — all arguments must be literals (buckets an " +
            "integer)")
      }))
    ext.injectTableFunction((FunctionIdentifier("semantic_dedup"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "semantic_dedup"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(p, idc, vc, cp, t, rest @ _*) if rest.size <= 1 =>
          val spark = org.apache.spark.sql.SparkSession.active
          val data = spark.read.parquet(strLit(p, "semantic_dedup path"))
          val cents = spark.read.parquet(
            strLit(cp, "semantic_dedup centroidsPath"))
          val cap = rest.headOption
            .map(numLit(_, "semantic_dedup maxClusterSize").toInt)
            .getOrElse(100000)
          graft.operators.Dedup.semanticDedup(data,
            strLit(idc, "semantic_dedup idCol"),
            strLit(vc, "semantic_dedup vecCol"), cents,
            threshold = numLit(t, "semantic_dedup threshold"),
            maxClusterSize = cap)(graft.CacheScope.session)
            .queryExecution.logical
        case _ => throw new IllegalArgumentException(
          "semantic_dedup(path, idCol, vecCol, centroidsPath, threshold" +
            "[, maxClusterSize]) — all arguments must be literals")
      }))
    ext.injectOptimizerRule(_ => CollapseRedundantNormalization)
    // MERGE INTO for plain parquet tables (see MergeSql): rewrite the
    // parsed-but-unresolved MergeIntoTable before the analyzer rejects
    // it for non-row-level-operation tables
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
  }
}

/** Collapses redundant string-normalization chains that arise when
  * cleansing functions compose — e.g. `normalize_key` (F11,
  * load_fact_sales_dw.py:40-43 in the reference) applied to a column that
  * an earlier stage already cleaned yields `upper(trim(upper(trim(x))))`;
  * the reference can't see this (each pandas `apply` is opaque), but a
  * declarative plan can:
  *
  *  - `upper(upper(e))`  → `upper(e)`   (idempotent; same for lower)
  *  - `trim(trim(e))`    → `trim(e)`    (default whitespace trim only)
  *  - `upper(trim(upper(e)))` → `upper(trim(e))` (case-mapping never adds
  *    or removes leading/trailing whitespace; same for lower)
  *
  * Guarded to the default (UTF8_BINARY) string type — exotic collations
  * keep their original expression. Runs in the user-provided rule batch
  * to fixed point, so arbitrarily deep chains collapse fully.
  */
object CollapseRedundantNormalization extends Rule[LogicalPlan] {

  private def plainString(e: Expression): Boolean = e.dataType == StringType

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Upper(inner @ Upper(_)) if plainString(inner) => inner
      case Lower(inner @ Lower(_)) if plainString(inner) => inner
      case StringTrim(inner @ StringTrim(_, None), None)
          if plainString(inner) => inner
      case Upper(StringTrim(Upper(e), None)) if plainString(e) =>
        Upper(StringTrim(e, None))
      case Lower(StringTrim(Lower(e), None)) if plainString(e) =>
        Lower(StringTrim(e, None))
    }
}
