package graft.pipelines

import graft.operators.{ByteBpe, TextAnalysis, Unigram, WordPiece}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted tokenizer models — the "train once, encode everywhere"
  * contract that completes the store family ([[VectorStore]] /
  * [[IndexStore]] / [[CorpusStore]] / [[SignatureStore]]): a tokenizer
  * is trained ONCE (hours at real corpus scale), persisted, and every
  * downstream job — corpus tokenization, packing, span corruption,
  * fertility reports — loads the frozen model instead of retraining.
  * Freezing is also a correctness property: token ids must not drift
  * between the job that wrote shard 1 and the job that wrote shard
  * 900, and a persisted model is the only thing that guarantees it.
  *
  * Layout (the [[VectorStore]] idiom):
  * {{{
  *   dir/model/    — family-specific rows:
  *                     bpe | bpe-byte : (iter, lhs, rhs, cnt) ordered merges
  *                     unigram        : (piece, cost_mu)
  *                     wordpiece      : (piece)
  *   dir/alphabet/ — OPTIONAL, char-BPE only: (sym) — the training
  *                   alphabet snapshot that makes the char family's
  *                   ids shard-stable (merges alone cannot bound its
  *                   script inventory); absent = legacy corpus-ranked
  *                   ids.
  *   dir/format/   — ONE row (family, version): the marker
  *                   [[family]] checks, so a wrong path fails loudly.
  * }}}
  * [[save]] replaces the whole dir through [[BatchLog.replaceDir]], so
  * a crash mid-save leaves the previous store (or none) — never a
  * half-written model silently encoding.
  *
  * Scale shape: models are MODEL-sized (≤ merges/vocab rows — a 32k-
  * merge BPE table is ~1 MB), so save is one tiny parquet write and
  * load is one bounded collect; the corpus-sized work stays in the
  * family encoders, unchanged. */
object TokenizerStore {

  val Families: Set[String] =
    Set("bpe", "bpe-byte", "bpe-byte-sp", "unigram", "wordpiece")

  /** Persist a trained model. `model` must carry the family's schema
    * (see layout above) — validated here, so a mixed-up frame fails at
    * save time, not at some later load. The whole store dir is written
    * and committed by [[BatchLog.replaceDir]]: it holds exactly what
    * this save wrote, and `model` may lazily derive from THIS store
    * (a schema-migrating `loadModel(dir)`-then-`save(dir)`), because the
    * live dir stays whole until the new one is complete. */
  def save(spark: SparkSession, dir: String, family: String,
      model: DataFrame, alphabet: Option[DataFrame] = None): Unit = {
    require(Families.contains(family),
      s"TokenizerStore.save: unknown family '$family' — " +
        s"one of ${Families.toSeq.sorted.mkString(", ")}")
    require(alphabet.isEmpty || family == "bpe",
      "TokenizerStore.save: alphabet is the char-BPE family's " +
        s"snapshot — '$family' does not take one (byte-BPE's alphabet " +
        "is the closed 256; unigram/wordpiece models ARE their piece " +
        "tables)")
    val m = family match {
      case "bpe" | "bpe-byte" | "bpe-byte-sp" => model.select(
        col("iter").cast("int").as("iter"),
        col("lhs").cast("string").as("lhs"),
        col("rhs").cast("string").as("rhs"),
        col("cnt").cast("long").as("cnt"))
      case "unigram" => model.select(
        col("piece").cast("string").as("piece"),
        col("cost_mu").cast("long").as("cost_mu"))
      case "wordpiece" => model.select(
        col("piece").cast("string").as("piece"))
    }
    import spark.implicits._
    BatchLog.replaceDir(spark, dir) { staging =>
      m.coalesce(1).write.mode("overwrite").parquet(s"$staging/model")
      alphabet.foreach(_.select(col("sym").cast("string").as("sym"))
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/alphabet"))
      Seq((family, 1)).toDF("family", "version")
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/format")
    }
  }

  /** The stored family — fails loudly on a dir that is not a tokenizer
    * store (no format marker = a wrong path or a damaged store;
    * guessing would encode with the wrong model). Every read goes
    * through here, so it first finishes or undoes a crashed save
    * ([[BatchLog.recoverDir]]). */
  def family(spark: SparkSession, dir: String): String = {
    BatchLog.recoverDir(spark, dir)
    require(exists(spark, s"$dir/format"),
      s"TokenizerStore: $dir has no format marker — not a tokenizer " +
        "store")
    StoreMeta.load(spark, s"$dir/format", "family") {
      spark.read.parquet(s"$dir/format")
        .select(col("family")).collect().head.getString(0)
    }
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The stored model frame, schema per family (see layout). */
  def loadModel(spark: SparkSession, dir: String): DataFrame = {
    family(spark, dir) // the loud not-a-store check
    modelFrame(spark, dir)
  }

  /** The model frame WITHOUT the marker check — internal, for callers
    * that already verified the store (one format read per job, not
    * three: on an object store every check is a round trip). */
  private def modelFrame(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/model")

  private def mergesOf(model: DataFrame): Seq[(String, String)] =
    model.orderBy(col("iter")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

  // ---- memoized model decodes ([[StoreMeta]]): the stored tables are
  // model-sized (≤ ~1 MB) but every encode/decode/TVF call re-collected
  // them through a fresh plan + job — pure driver latency on the
  // tokenizer-store gates. Keyed by the model dir's content
  // fingerprint, so a re-save invalidates automatically.

  private def mergesSeq(spark: SparkSession,
      dir: String): Seq[(String, String)] =
    StoreMeta.load(spark, s"$dir/model", "merges") {
      mergesOf(modelFrame(spark, dir))
    }

  private def unigramPieces(spark: SparkSession,
      dir: String): IndexedSeq[(String, Long)] =
    StoreMeta.load(spark, s"$dir/model", "unigram") {
      modelFrame(spark, dir).orderBy(col("piece"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
        .toIndexedSeq
    }

  private def wordpiecePieces(spark: SparkSession,
      dir: String): IndexedSeq[String] =
    StoreMeta.load(spark, s"$dir/model", "wordpiece") {
      modelFrame(spark, dir).orderBy(col("piece"))
        .collect().map(_.getString(0)).toIndexedSeq
    }

  private def alphabetSeq(spark: SparkSession,
      dir: String): IndexedSeq[String] =
    StoreMeta.load(spark, s"$dir/alphabet", "alphabet") {
      spark.read.parquet(s"$dir/alphabet")
        .collect().map(_.getString(0)).toIndexedSeq
    }

  /** Encode a corpus through the STORED model — dispatches on the
    * recorded family, so the caller needs no tokenizer-specific code
    * and cannot apply a model with the wrong encoder. Returns the
    * family's (vocab, perDoc) pair. One format read, one model read. */
  def encodeCorpus(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String)(
      implicit scope: graft.CacheScope): (DataFrame, DataFrame) =
    family(spark, dir) match {
      case "bpe" =>
        // a store carrying a training-alphabet snapshot gives the
        // char family shard-stable ids (frozen table = alphabet ∪
        // merge outputs, OOV chars at the reserved id); a legacy
        // store without one keeps corpus-ranked ids — the drift its
        // absence implies is the caller's accepted posture
        if (exists(spark, s"$dir/alphabet"))
          TextAnalysis.bpeEncodeCorpusFrozen(docs, idCol, textCol,
            mergesSeq(spark, dir), alphabetSeq(spark, dir))
        else
          TextAnalysis.bpeEncodeCorpus(docs, idCol, textCol,
            mergesSeq(spark, dir))
      case "bpe-byte" =>
        ByteBpe.encodeCorpus(docs, idCol, textCol, mergesSeq(spark, dir))
      case "bpe-byte-sp" =>
        // the GPT-2-faithful space-carrying convention: whitespace
        // rides inside the tokens, so this family's decodeCorpus is
        // EXACTLY lossless at the corpus level
        ByteBpe.encodeCorpusSp(docs, idCol, textCol,
          mergesSeq(spark, dir))
      case "unigram" =>
        Unigram.encodeCorpus(docs, idCol, textCol,
          unigramPieces(spark, dir))
      case "wordpiece" =>
        WordPiece.encodeCorpus(docs, idCol, textCol,
          wordpiecePieces(spark, dir))
    }

  /** The ordered merge list of a stored BPE-family model — bounded
    * (model-sized) collect. */
  def loadMerges(spark: SparkSession, dir: String)
      : Seq[(String, String)] = {
    family(spark, dir) // the loud not-a-store check
    mergesSeq(spark, dir)
  }

  /** Decode per-doc token ids through the STORED model — the inverse
    * leg of [[encodeCorpus]], family-dispatched so the caller cannot
    * decode with the wrong convention. Adds a `decoded` string column
    * to `perDoc`. What "decoded" means is each family's documented
    * contract:
    *
    *  - `bpe-byte-sp` — EXACT text, byte-for-byte
    *    ([[ByteBpe.decodeCorpus]] over the space-carrying stream);
    *  - `bpe-byte` — words concatenated (the separator convention
    *    carries no whitespace);
    *  - `wordpiece` — space-joined words, `##` markers resolved,
    *    unencodable words as `[UNK]` ([[WordPiece.decodeCorpus]]);
    *  - `unigram` / `bpe` — space-joined piece form (no boundary
    *    marker exists to do better), reserved unk/OOV ids as `<unk>`.
    *
    * A char-BPE store WITHOUT an alphabet snapshot cannot decode (its
    * legacy ids were corpus-ranked — the model alone does not define
    * the table) and fails loudly. One format read + one model-sized
    * collect; the decode itself is map-only at any scale. */
  def decodeCorpus(spark: SparkSession, dir: String, perDoc: DataFrame,
      idsCol: String): DataFrame =
    family(spark, dir) match {
      case "bpe" =>
        require(exists(spark, s"$dir/alphabet"),
          s"TokenizerStore.decodeCorpus: char-BPE store $dir has no " +
            "alphabet snapshot — its ids were corpus-ranked at encode " +
            "time and are not a function of the model; re-save the " +
            "store with an alphabet to make ids (and decode) stable")
        TextAnalysis.bpeDecodeCorpusFrozen(perDoc, idsCol,
          mergesSeq(spark, dir), alphabetSeq(spark, dir))
      case "bpe-byte" | "bpe-byte-sp" =>
        ByteBpe.decodeCorpus(perDoc, idsCol, mergesSeq(spark, dir))
      case "unigram" =>
        Unigram.decodeCorpus(perDoc, idsCol, unigramPieces(spark, dir))
      case "wordpiece" =>
        WordPiece.decodeCorpus(perDoc, idsCol,
          wordpiecePieces(spark, dir))
    }
}
