package graft

import graft.operators.{ByteBpe, TextAnalysis, Unigram, WordPiece}
import graft.pipelines.TokenizerStore
import org.apache.spark.sql.functions._

/** TokenizerStore (t23): save → load → encode must equal in-memory
  * encoding for all four tokenizer families; a dir without the format
  * marker is rejected loudly. Crash safety of a save is BatchLogSpec's
  * drill. */
class TokenizerStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("tokstore").toString

  private val corpus = Seq(
    (1L, "abab abc abab low lower"),
    (2L, "cc abc lowest 世界"),
    (3L, "low low lower abab"),
    (4L, ""))

  private def docs = corpus.toDF("doc_id", "text")

  private def perDocRows(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Int, String)] =
    df.select(col("doc_id"), col("n_tok"),
        concat_ws(" ", transform(col("token_ids"),
          (i: org.apache.spark.sql.Column) => i.cast("string"))))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq

  test("bpe: stored merges encode identically to in-memory merges") {
    val wf = TextAnalysis.bpeWordFreq(docs, "text")
    val model = TextAnalysis.bpeTrainLocal(wf, nMerges = 6)
    val merges = model.orderBy("iter").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val dir = tmp()
    TokenizerStore.save(spark, dir, "bpe", model)
    assert(TokenizerStore.family(spark, dir) === "bpe")
    assert(TokenizerStore.loadMerges(spark, dir) === merges)
    CacheScope.withScope { implicit s =>
      val mem = TextAnalysis.bpeEncodeCorpus(docs, "doc_id", "text",
        merges)._2
      val stored = TokenizerStore.encodeCorpus(spark, dir, docs,
        "doc_id", "text")._2
      assert(perDocRows(stored) === perDocRows(mem))
    }
  }

  test("bpe-byte: stored model dispatches to the byte encoder and " +
      "reproduces multibyte tokenization") {
    val wf = ByteBpe.byteWordFreq(docs, "text")
    val model = ByteBpe.train(wf, nMerges = 5)
    val merges = model.orderBy("iter").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val dir = tmp()
    TokenizerStore.save(spark, dir, "bpe-byte", model)
    CacheScope.withScope { implicit s =>
      val mem = ByteBpe.encodeCorpus(docs, "doc_id", "text", merges)._2
      val stored = TokenizerStore.encodeCorpus(spark, dir, docs,
        "doc_id", "text")._2
      assert(perDocRows(stored) === perDocRows(mem))
    }
  }

  test("unigram: stored (piece, cost_mu) table reproduces the Viterbi") {
    val wf = TextAnalysis.bpeWordFreq(docs, "text")
    val vocab = CacheScope.withScope { implicit s =>
      Unigram.seedVocab(wf, vocabSize = 40, maxPieceLen = 4)
        .select(col("piece"), col("cost_mu")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toIndexedSeq
    }
    val dir = tmp()
    TokenizerStore.save(spark, dir, "unigram",
      vocab.toDF("piece", "cost_mu"))
    CacheScope.withScope { implicit s =>
      val mem = Unigram.encodeCorpus(docs, "doc_id", "text", vocab)._2
        .select("doc_id", "n_tok", "score_mu").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      val stored = TokenizerStore.encodeCorpus(spark, dir, docs,
          "doc_id", "text")._2
        .select("doc_id", "n_tok", "score_mu").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      assert(stored.toSeq === mem.toSeq)
    }
  }

  test("wordpiece: stored vocabulary reproduces the greedy encode") {
    val wf = TextAnalysis.bpeWordFreq(docs, "text")
    val pieces = CacheScope.withScope { implicit s =>
      WordPiece.vocab(wf, vocabSize = 40, maxPieceLen = 4)
        .select(col("piece")).collect().map(_.getString(0)).toIndexedSeq
    }
    val dir = tmp()
    TokenizerStore.save(spark, dir, "wordpiece", pieces.toDF("piece"))
    CacheScope.withScope { implicit s =>
      val mem = WordPiece.encodeCorpus(docs, "doc_id", "text",
        pieces)._2
      val stored = TokenizerStore.encodeCorpus(spark, dir, docs,
        "doc_id", "text")._2
      assert(perDocRows(stored) === perDocRows(mem))
    }
  }

  test("bpe-byte token ids are corpus-INDEPENDENT: the same document " +
      "gets identical ids inside two different shard corpora") {
    val wf = ByteBpe.byteWordFreq(docs, "text")
    val dir = tmp()
    TokenizerStore.save(spark, dir, "bpe-byte", ByteBpe.train(wf, 5))
    val shardA = Seq((1L, "abab abc low")).toDF("doc_id", "text")
    val shardB = Seq((1L, "abab abc low"),
      (2L, "qq zz 世界 unseen words everywhere"))
      .toDF("doc_id", "text")
    def idsOfDoc1(shard: org.apache.spark.sql.DataFrame): Seq[Int] =
      CacheScope.withScope { implicit s =>
        TokenizerStore.encodeCorpus(spark, dir, shard,
            "doc_id", "text")._2
          .filter(col("doc_id") === 1L).collect()
          .head.getSeq[Int](1)
      }
    assert(idsOfDoc1(shardA) === idsOfDoc1(shardB),
      "shard inventory must not change a document's token ids")
  }

  test("wordpiece token ids are corpus-INDEPENDENT: two DISJOINT " +
      "shards produce the identical piece→id mapping") {
    val wf = TextAnalysis.bpeWordFreq(docs, "text")
    val pieces = CacheScope.withScope { implicit s =>
      WordPiece.vocab(wf, vocabSize = 40, maxPieceLen = 4)
        .select(col("piece")).collect().map(_.getString(0)).toIndexedSeq
    }
    val dir = tmp()
    TokenizerStore.save(spark, dir, "wordpiece", pieces.toDF("piece"))
    // shard 1 and shard 900: no document, no word in common
    val shardA = Seq((1L, "abab abc low")).toDF("doc_id", "text")
    val shardB = Seq((900L, "lower lowest cc"),
      (901L, "zzz unseen 世界")).toDF("doc_id", "text")
    def mapping(shard: org.apache.spark.sql.DataFrame)
        : Seq[(Int, String)] =
      CacheScope.withScope { implicit s =>
        TokenizerStore.encodeCorpus(spark, dir, shard,
            "doc_id", "text")._1
          .orderBy("token_id").collect()
          .map(r => (r.getInt(0), r.getString(1))).toSeq
      }
    val (ma, mb) = (mapping(shardA), mapping(shardB))
    assert(ma === mb,
      "the piece→id mapping must be a pure function of the model")
    assert(ma.map(_._2).contains("[UNK]"))
    // and the full mapping is exactly the stored model + [UNK]
    assert(ma.map(_._2).toSet === pieces.toSet + "[UNK]")
  }

  test("unigram token ids are corpus-INDEPENDENT: disjoint shards " +
      "share one mapping and out-of-model chars take the reserved id") {
    val wf = TextAnalysis.bpeWordFreq(docs, "text")
    val vocab = CacheScope.withScope { implicit s =>
      Unigram.seedVocab(wf, vocabSize = 40, maxPieceLen = 4)
        .select(col("piece"), col("cost_mu")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toIndexedSeq
    }
    val dir = tmp()
    TokenizerStore.save(spark, dir, "unigram",
      vocab.toDF("piece", "cost_mu"))
    val shardA = Seq((1L, "abab abc low")).toDF("doc_id", "text")
    val shardB = Seq((900L, "lower lowest cc")).toDF("doc_id", "text")
    def mapping(shard: org.apache.spark.sql.DataFrame)
        : Seq[(Int, String)] =
      CacheScope.withScope { implicit s =>
        TokenizerStore.encodeCorpus(spark, dir, shard,
            "doc_id", "text")._1
          .orderBy("token_id").collect()
          .map(r => (r.getInt(0), r.getString(1))).toSeq
      }
    val (ma, mb) = (mapping(shardA), mapping(shardB))
    assert(ma === mb)
    assert(ma.map(_._2).toSet === vocab.map(_._1).toSet)
    // a character OUTSIDE the model maps to the reserved id |model|
    // in EVERY shard — never to a corpus-dependent rank
    val unkId = vocab.map(_._1).distinct.length
    val oov = Seq((7L, "é")).toDF("doc_id", "text") // é: not in corpus
    val ids = CacheScope.withScope { implicit s =>
      TokenizerStore.encodeCorpus(spark, dir, oov,
          "doc_id", "text")._2
        .collect().head.getSeq[Int](1)
    }
    assert(ids === Seq(unkId))
  }

  test("char-BPE with an alphabet snapshot: disjoint shards share one " +
      "sym→id mapping; OOV chars take the reserved id; a legacy store " +
      "keeps corpus-ranked ids") {
    val wf = TextAnalysis.bpeWordFreq(docs, "text")
    val model = TextAnalysis.bpeTrainLocal(wf, nMerges = 4)
    val alphabet = TextAnalysis.bpeAlphabet(wf)
    val dir = tmp()
    TokenizerStore.save(spark, dir, "bpe", model,
      alphabet = Some(alphabet.toDF("sym")))
    // shards with DISJOINT words (and disjoint char inventories over
    // the non-shared part) — the mapping must be the model's, not the
    // shard's
    val shardA = Seq((1L, "abab low")).toDF("doc_id", "text")
    val shardB = Seq((900L, "cc lowest")).toDF("doc_id", "text")
    def mapping(shard: org.apache.spark.sql.DataFrame)
        : Seq[(Int, String)] =
      CacheScope.withScope { implicit s =>
        TokenizerStore.encodeCorpus(spark, dir, shard,
            "doc_id", "text")._1
          .orderBy("token_id").collect()
          .map(r => (r.getInt(0), r.getString(1))).toSeq
      }
    val (ma, mb) = (mapping(shardA), mapping(shardB))
    assert(ma === mb,
      "alphabet-snapshot ids must be a pure function of the model")
    assert(ma.map(_._2).toSet ===
      (alphabet ++ TokenizerStore.loadMerges(spark, dir)
        .map { case (l, r) => l + r }).toSet)
    // a char OUTSIDE the training alphabet maps to the reserved id
    // |table| in every shard
    val reserved = ma.length
    val oovIds = CacheScope.withScope { implicit s =>
      TokenizerStore.encodeCorpus(spark, dir,
          Seq((7L, "é")).toDF("doc_id", "text"), "doc_id", "text")._2
        .collect().head.getSeq[Int](1)
    }
    assert(oovIds === Seq(reserved))
    // legacy store (no alphabet): corpus-ranked, shard-dependent —
    // the documented pre-snapshot posture, unchanged
    val legacy = tmp()
    TokenizerStore.save(spark, legacy, "bpe", model)
    val la = CacheScope.withScope { implicit s =>
      TokenizerStore.encodeCorpus(spark, legacy, shardA,
        "doc_id", "text")._1.count()
    }
    assert(la < ma.length,
      "legacy ids rank only the shard's own symbols")
    // a re-save WITHOUT the alphabet retires a stale snapshot
    TokenizerStore.save(spark, dir, "bpe", model)
    assert(!new java.io.File(s"$dir/alphabet").exists())
    // non-bpe families reject an alphabet loudly
    intercept[IllegalArgumentException] {
      TokenizerStore.save(spark, tmp(), "wordpiece",
        Seq("a").toDF("piece"), alphabet = Some(alphabet.toDF("sym")))
    }
  }

  test("re-save of a model LOADED FROM THE SAME STORE is safe: " +
      "lineage is severed before the overwrite") {
    val wf = TextAnalysis.bpeWordFreq(docs, "text")
    val model = TextAnalysis.bpeTrainLocal(wf, nMerges = 3)
    val merges = model.orderBy("iter").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val dir = tmp()
    TokenizerStore.save(spark, dir, "bpe", model)
    // the schema-migrating re-save shape: load from dir, save to dir
    val loaded = TokenizerStore.loadModel(spark, dir)
    TokenizerStore.save(spark, dir, "bpe", loaded)
    assert(TokenizerStore.family(spark, dir) === "bpe")
    assert(TokenizerStore.loadMerges(spark, dir) === merges)
  }

  test("re-saving over an existing store replaces it: the format " +
      "marker names the new family") {
    val wf = TextAnalysis.bpeWordFreq(docs, "text")
    val dir = tmp()
    TokenizerStore.save(spark, dir, "bpe",
      TextAnalysis.bpeTrainLocal(wf, nMerges = 2))
    TokenizerStore.save(spark, dir, "bpe-byte",
      ByteBpe.train(ByteBpe.byteWordFreq(docs, "text"), 2))
    assert(TokenizerStore.family(spark, dir) === "bpe-byte")
  }

  test("a crashed save (model without format marker) is rejected " +
      "loudly; unknown families fail at save time") {
    val wf = TextAnalysis.bpeWordFreq(docs, "text")
    val model = TextAnalysis.bpeTrainLocal(wf, nMerges = 2)
    val dir = tmp()
    TokenizerStore.save(spark, dir, "bpe", model)
    // a dir with a model but no marker: a wrong or damaged path
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete()
    }
    rmrf(new java.io.File(s"$dir/format"))
    val e = intercept[IllegalArgumentException] {
      TokenizerStore.family(spark, dir)
    }
    assert(e.getMessage.contains("format marker"))
    intercept[IllegalArgumentException] {
      TokenizerStore.save(spark, tmp(), "sentencepiece-xl", model)
    }
  }

  // ---- decode: the inverse leg, all families ------------------------------

  /** Hostile roundtrip corpus: tabs, newline runs, leading/trailing
    * whitespace, double spaces, 2-/3-/4-byte UTF-8, and an empty doc. */
  private val rtCorpus = Seq(
    (1L, "  hello\tworld\n"),
    (2L, "café crème  naïve"),
    (3L, "\n世界 模型 ok 😀\t"),
    (4L, ""),
    (5L, "a  b\n\nc "))
  private def rtDocs = rtCorpus.toDF("doc_id", "text")

  test("bpe-byte-sp: decode(encode(text)) == text BYTE-FOR-BYTE — " +
      "whitespace runs, emoji, multibyte scripts, empty docs") {
    val model = ByteBpe.train(ByteBpe.byteWordFreqSp(rtDocs, "text"),
      nMerges = 8)
    val dir = tmp()
    TokenizerStore.save(spark, dir, "bpe-byte-sp", model)
    CacheScope.withScope { implicit s =>
      val (_, perDoc) = TokenizerStore.encodeCorpus(spark, dir, rtDocs,
        "doc_id", "text")
      val decoded = TokenizerStore.decodeCorpus(spark, dir, perDoc,
          "token_ids")
        .select(col("doc_id"), col("decoded")).orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(decoded === rtCorpus)
    }
  }

  test("bpe-byte (separator variant): decode returns the words " +
      "CONCATENATED — exact per word, whitespace not carried") {
    val merges = ByteBpe.train(ByteBpe.byteWordFreq(rtDocs, "text"), 5)
      .orderBy("iter").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    CacheScope.withScope { implicit s =>
      val (_, perDoc) = ByteBpe.encodeCorpus(rtDocs, "doc_id", "text",
        merges)
      val decoded = ByteBpe.decodeCorpus(perDoc, "token_ids", merges)
        .select(col("doc_id"), col("decoded")).orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val expected = rtCorpus.map { case (id, t) =>
        (id, t.split("\\s+").filter(_.nonEmpty).mkString) }
      assert(decoded === expected)
    }
  }

  test("wordpiece: decode reconstructs the space-joined lowercased " +
      "word form, unencodable words as [UNK]") {
    val wpDocs = Seq((1L, "Abab  ABC\tcc"), (2L, "abc 世界 ab"),
      (3L, "")).toDF("doc_id", "text")
    val wf = TextAnalysis.bpeWordFreq(wpDocs, "text")
    val pieces = CacheScope.withScope { implicit s =>
      WordPiece.vocab(wf, vocabSize = 30, maxPieceLen = 4)
        .select(col("piece")).collect().map(_.getString(0)).toIndexedSeq
    }
    val dir = tmp()
    TokenizerStore.save(spark, dir, "wordpiece", pieces.toDF("piece"))
    CacheScope.withScope { implicit s =>
      val (_, perDoc) = TokenizerStore.encodeCorpus(spark, dir, wpDocs,
        "doc_id", "text")
      val decoded = TokenizerStore.decodeCorpus(spark, dir, perDoc,
          "token_ids")
        .select(col("doc_id"), col("decoded")).orderBy("doc_id")
        .collect().map(_.getString(1)).toSeq
      // every word of the training corpus is single-char-coverable
      // EXCEPT 世界 (multibyte chars are in the alphabet too, so it
      // segments as well) — expect the lowercased normal form
      assert(decoded === Seq("abab abc cc", "abc 世界 ab", ""))
    }
  }

  test("wordpiece: a word with a character outside the vocabulary " +
      "decodes as the literal [UNK]") {
    val pieces = IndexedSeq("a", "b", "##a", "##b")
    CacheScope.withScope { implicit s =>
      val d2 = Seq((1L, "ab zap ba")).toDF("doc_id", "text")
      val (_, perDoc) = WordPiece.encodeCorpus(d2, "doc_id", "text",
        pieces)
      val decoded = WordPiece.decodeCorpus(perDoc, "token_ids", pieces)
        .select(col("decoded")).collect().head.getString(0)
      assert(decoded === "ab [UNK] ba")
    }
  }

  test("unigram: decode returns the space-joined piece form with " +
      "reserved-unk ids as <unk>") {
    val vocab = IndexedSeq(("ab", 100000L), ("a", 200000L),
      ("b", 200000L), ("c", 200000L))
    val dir = tmp()
    TokenizerStore.save(spark, dir, "unigram",
      vocab.toDF("piece", "cost_mu"))
    CacheScope.withScope { implicit s =>
      val d2 = Seq((1L, "abc abz")).toDF("doc_id", "text")
      val (_, perDoc) = TokenizerStore.encodeCorpus(spark, dir, d2,
        "doc_id", "text")
      val decoded = TokenizerStore.decodeCorpus(spark, dir, perDoc,
          "token_ids")
        .select(col("decoded")).collect().head.getString(0)
      // 'abc' -> ab c; 'abz': z falls back to the unk char id
      assert(decoded === "ab c ab <unk>")
    }
  }

  test("char-BPE with alphabet snapshot: decode returns the " +
      "space-joined symbol form, OOV chars as <unk>; a store " +
      "WITHOUT a snapshot refuses to decode") {
    val wf = TextAnalysis.bpeWordFreq(docs, "text")
    val model = TextAnalysis.bpeTrainLocal(wf, nMerges = 4)
    val alphabet = TextAnalysis.bpeAlphabet(wf)
    val dir = tmp()
    TokenizerStore.save(spark, dir, "bpe", model,
      alphabet = Some(alphabet.toDF("sym")))
    CacheScope.withScope { implicit s =>
      // 'Я' is outside the training alphabet -> reserved OOV id
      val d2 = Seq((1L, "ab Я")).toDF("doc_id", "text")
      val (_, perDoc) = TokenizerStore.encodeCorpus(spark, dir, d2,
        "doc_id", "text")
      val decoded = TokenizerStore.decodeCorpus(spark, dir, perDoc,
          "token_ids")
        .select(col("decoded")).collect().head.getString(0)
      assert(decoded.endsWith("<unk>"))
      assert(decoded.replace("<unk>", "").replace(" ", "") === "ab")
    }
    val bare = tmp()
    TokenizerStore.save(spark, bare, "bpe", model)
    val e = intercept[IllegalArgumentException] {
      TokenizerStore.decodeCorpus(spark, bare,
        Seq((1L, Seq(0))).toDF("doc_id", "token_ids"), "token_ids")
    }
    assert(e.getMessage.contains("alphabet"))
  }

  test("decode raises loudly on an id outside the model table") {
    val merges = Seq(("a", "b"))
    val bad = Seq((1L, Seq(999999))).toDF("doc_id", "token_ids")
    val e = intercept[Exception] {
      ByteBpe.decodeCorpus(bad, "token_ids", merges).collect()
    }
    assert(e.getMessage.contains("outside the model table"))
  }
}
