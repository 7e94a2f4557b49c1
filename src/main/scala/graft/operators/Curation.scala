package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.expressions.TopKByExpr

/** Training-data curation operators that sit downstream of the Dedup /
  * TextAnalysis families: duplicate-CLUSTER resolution (connected
  * components over near-dup pairs), deterministic hash sampling,
  * per-source quota caps, sequence packing by token budget, PII
  * redaction, and benchmark decontamination.
  *
  * Shared scale contract: no operator here ever moves the document
  * payload through a shuffle that a narrow (id, smallint) projection
  * could do instead, none materializes an all-pairs surface, and every
  * iterative step is bounded and lineage-truncated. All scalar work is
  * `functions._` / native expressions (codegen'd) — zero UDFs.
  */
object Curation {

  // -------------------------------------------------------------------
  // Duplicate clusters (connected components over near-dup pairs)
  // -------------------------------------------------------------------

  /** Connected components over an undirected pair list — turns the
    * pairwise output of [[Dedup.minhashDupPairs]] / simhash / embedding
    * dup detection into per-document cluster ids (min doc id in the
    * component), which is what a dedup pipeline actually needs: "keep
    * one document per near-dup CLUSTER", not "per pair" (pairs are not
    * transitive-closed: A~B, B~C often arrives without A~C).
    *
    * Algorithm: min-label propagation. Every node starts labeled with
    * itself; each round every node takes the min of its own label and
    * its neighbors' labels; stop when a round changes nothing. Each
    * round is ONE shuffle of narrow (id, label) longs — the edge list
    * is computed once and persisted, payloads never enter the loop —
    * and converges in O(longest chain) rounds. Near-dup components are
    * short-diameter in practice (stars around a popular document);
    * `maxIters` bounds the adversarial long-chain case and the method
    * THROWS rather than return a partial (wrong) clustering if it is
    * hit. (For graphs with genuinely long chains, alternating
    * large-star/small-star [Kiveris et al., "Connected Components in
    * MapReduce and Beyond"] converges in O(log n) rounds; near-dup
    * clustering does not need that machinery.)
    *
    * Per-round `localCheckpoint` truncates the lineage so round N's
    * plan does not replay rounds 1..N-1 (the classic iterative-Spark
    * footgun), and the convergence count reuses that materialization.
    *
    * Returns (id: long, cluster_id: long) for every id that appears in
    * `pairs`. Ids absent from `pairs` are their own cluster — join via
    * [[clusterAssign]] for the full-universe view.
    */
  def dupClusters(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 64): DataFrame = {
    val a = col(aCol).cast("long")
    val b = col(bCol).cast("long")
    // Materialize the (possibly expensive — LSH pipeline) pair plan ONCE
    // before mirroring it: union(pairs, pairs.reversed) over the raw plan
    // would execute it twice.
    val fwd = pairs.select(a.as("src"), b.as("dst")).persist()
    val edges = fwd
      .union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist()
    edges.count()
    fwd.unpersist()
    // Fuse init+round 1: label(v) = min(v, min neighbor) directly off the
    // edge list — diameter-1 components (the near-dup norm) then converge
    // on the loop's first (confirming) pass.
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("nbr"))
      .select(col("id"), least(col("id"), col("nbr")).as("cluster_id"))
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val prop = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst").as("nid")).agg(min(col("cluster_id")).as("nbr"))
      val next = labels.join(prop, labels("id") === prop("nid"), "left")
        .select(labels("id"),
          least(labels("cluster_id"), coalesce(col("nbr"), labels("cluster_id")))
            .as("cluster_id"),
          (col("nbr") < labels("cluster_id")).as("__chg"))
        .localCheckpoint(true)
      changed = next.filter(col("__chg")).count()
      labels = next.drop("__chg")
      it += 1
    }
    edges.unpersist()
    if (changed > 0) throw new IllegalStateException(
      s"dupClusters did not converge in $maxIters rounds — component " +
        "diameter exceeds the bound; raise maxIters")
    labels
  }

  /** Connected components in O(log n)-ish rounds via alternating
    * large-star / small-star (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", 2014) — the scale path for graphs whose
    * component DIAMETER breaks [[dupClusters]]'s per-round label
    * propagation (a 3000-link chain needs ~3000 propagation rounds but
    * ~a dozen star rounds). Same contract as [[dupClusters]]: returns
    * (id, cluster_id = component min) for every id in `pairs`.
    *
    * Each round is two narrow (long, long) shuffles; edges only ever
    * point "down" toward smaller ids, the edge count never grows above
    * the neighborhood size, and per-round `localCheckpoint` truncates
    * lineage. Fixed point = the edge set is unchanged by a full
    * large+small round; at that point the graph is a forest of stars
    * rooted at component minima. Near-dup graphs (short diameter)
    * should still prefer [[dupClusters]] — fewer jobs per round. */
  def dupClustersStar(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 50): DataFrame = {
    val ids = pairs.select(col(aCol).cast("long").as("id"))
      .union(pairs.select(col(bCol).cast("long").as("id"))).distinct()
      .persist()
    ids.count()
    // canonical (x > y) edge set, self-loops dropped
    var cur = pairs.select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("x"),
        least(col("a"), col("b")).as("y"))
      .distinct().localCheckpoint(true)
    var curCount = cur.count()
    var it = 0
    var done = curCount == 0
    while (!done && it < maxIters) {
      // large-star: every node links its STRICTLY LARGER neighbors to
      // the min of its closed neighborhood
      val nbr = cur.select(col("x").as("n"), col("y").as("v"))
        .union(cur.select(col("y").as("n"), col("x").as("v")))
      val mins = nbr.groupBy(col("n"))
        .agg(least(min(col("v")), first(col("n"))).as("m"))
      val large = nbr.join(mins, Seq("n"))
        .filter(col("v") > col("n"))
        .select(col("v").as("x"), col("m").as("y"))
        .distinct()
      // small-star: every node links its (all smaller) neighbors and
      // itself to the min of that set. Both output families come from
      // ONE pass over one join (explode of a 2-element array), not a
      // union of two copies of the join plan — a union would execute
      // the join (and `large` feeding it) twice per round.
      val sMins = large.groupBy(col("x")).agg(min(col("y")).as("m"))
      val small = large.join(sMins, Seq("x"))
        .select(explode(array(
          struct(col("y").as("x"), col("m").as("y")),
          struct(col("x"), col("m").as("y")))).as("e"))
        .select(col("e.x").as("x"), col("e.y").as("y"))
        .filter(col("x") =!= col("y"))
        .distinct().localCheckpoint(true)
      // both sides are distinct sets, so equal count + empty one-sided
      // difference ⇒ equal sets; the cheap count compare short-circuits
      // the anti-join on every non-converged round
      val smallCount = small.count()
      done = smallCount == curCount &&
        small.join(cur, Seq("x", "y"), "left_anti").isEmpty
      cur = small
      curCount = smallCount
      it += 1
    }
    if (!done) throw new IllegalStateException(
      s"dupClustersStar did not converge in $maxIters rounds")
    // materialize the result BEFORE unpersisting ids — a lazy return
    // would re-execute the (possibly expensive LSH) pairs plan when the
    // caller finally acts on it, after the cache is gone
    val out = ids.join(cur.select(col("x").as("id"), col("y")), Seq("id"),
        "left")
      .select(col("id"), coalesce(col("y"), col("id")).as("cluster_id"))
      .localCheckpoint(true)
    ids.unpersist()
    out
  }

  /** Full-universe cluster view: every id in `universe` gets its
    * component's min id as cluster_id (itself when it is in no pair)
    * and is_kept = "this is the cluster representative". Downstream
    * dedup is then `filter(is_kept)` — exactly one survivor per
    * near-dup cluster, transitively closed. */
  def clusterAssign(universe: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val labels = dupClusters(pairs, aCol, bCol)
      .withColumnRenamed("id", idCol)
    universe.select(col(idCol).cast("long").as(idCol))
      .join(labels, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
      .withColumn("is_kept", col("cluster_id") === col(idCol))
  }

  /** Quality-aware representative selection: per near-dup cluster, keep
    * the member with the HIGHEST `ord` (ties → smaller id) instead of
    * [[clusterAssign]]'s min-id survivor. The production dedup move —
    * "keep the best copy, not the first" — with any quality signal as
    * `ord` (token count, [[graft.operators.TextAnalysis.qualityScore]],
    * a model score).
    *
    * Output: (id, cluster_id, rep_id, is_rep) for every universe row.
    *
    * Scale shape: labels come from the iterative-CC path (narrow
    * pair-shuffles); the election is the bounded topk_by aggregate with
    * k = 1 — map-side partial argmax, one row per (partition, cluster)
    * shuffles. Representatives are cluster-count-sized (≈ doc-count at
    * 100 TB), so the re-attach is a plain key-shuffle join on
    * cluster_id, never a broadcast. Null `ord` coalesces to -Infinity
    * inside the operator, so null-ord rows lose to every scored row but a
    * cluster whose members are ALL null still elects a survivor (the
    * smallest id) — the same election SQL's
    * `ORDER BY ord DESC NULLS LAST, id` produces, and every row gets a
    * concrete is_rep boolean. (Only nuance vs SQL: a genuine -Infinity
    * score ties with null rows instead of beating them.) */
  def clusterRepresentatives(universe: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      ord: Column): DataFrame = {
    val labeled = universe
      .select(col(idCol).cast("long").as(idCol),
        coalesce(ord.cast("double"), lit(Double.NegativeInfinity))
          .as("__ord"))
      .join(dupClusters(pairs, aCol, bCol).withColumnRenamed("id", idCol),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"),
        col("__ord"))
    val reps = labeled.groupBy(col("cluster_id"))
      .agg(graft.expressions.TopKByExpr.topkBy(
        col("__ord"), col(idCol), 1).as("__win"))
      .select(col("cluster_id"),
        element_at(col("__win"), 1).getField("id").as("rep_id"))
    labeled.join(reps, Seq("cluster_id"))
      .select(col(idCol), col("cluster_id"), col("rep_id"),
        (col(idCol) === col("rep_id")).as("is_rep"))
  }

  // -------------------------------------------------------------------
  // Deterministic hash sampling
  // -------------------------------------------------------------------

  /** Deterministic sampling key: lowercase md5 hex of the id's string
    * form. Portable (identical in DuckDB/Trino/Hive), uniform, and
    * STABLE — re-running the pipeline, or running it on a different
    * cluster/partitioning, selects the same rows, which `df.sample()`
    * (seed + partition dependent) does not guarantee. At 100 TB the
    * filter evaluates in the scan stage (codegen'd, no shuffle, no
    * state), and a sample is reproducible from the id alone. */
  def sampleKey(id: Column): Column = md5(id.cast("string"))

  /** Numeric 32-bit form of [[sampleKey]] — first 8 md5 hex chars as a
    * long in [0, 2^32). The ONE definition of the portable hash draw
    * (DuckDB mirror: ('0x' || substr(md5(...), 1, 8))::UBIGINT);
    * [[graft.datagen.DataGen.hashBits]] and [[uniformGroupSample]]
    * both build on it so the derivation cannot drift per call site. */
  def hashDraw(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long")

  /** Keep rows whose sample key is lexicographically below `hexBound`
    * (e.g. "1a" keeps hashes with first byte 0x00..0x19 ≈ 10.16%).
    * Lexicographic compare on the hex string avoids any integer-parse
    * portability trap. */
  def hashSample(df: DataFrame, idCol: String, hexBound: String): DataFrame =
    df.filter(sampleKey(col(idCol)) < lit(hexBound))

  /** Hex bound for an approximate sampling rate, at 12-bit (1/4096)
    * resolution: rateBound(0.1) == "19a" → P = 0x19a/0x1000 ≈ 0.1001.
    *
    * rate ≈ 1.0 needs a special case: the natural `f"%03x"` of 4096 is
    * "1000" — FOUR hex chars, and `md5hex < "1000"` lexicographically
    * only admits hashes starting with '0' (~6.25%), silently turning
    * "keep everything" into a 16× downsample. "g" sorts above every
    * hex character, so `hash < "g"` keeps every row; all other bounds
    * stay exactly 3 hex chars so the lexicographic-prefix compare is a
    * true 12-bit threshold. */
  def rateBound(rate: Double): String = {
    require(rate >= 0 && rate <= 1, s"rate must be in [0,1]: $rate")
    val q = math.round(rate * 4096)
    if (q >= 4096) "g" else f"$q%03x"
  }

  /** CCNet's end use of the perplexity buckets (Wenzek et al. 2019,
    * public recipe): KEEP the fluent head, hash-SAMPLE the middle at
    * `middleRate`, DROP the tail — the fluency-weighted downsampling
    * that turns LM-scored web text into a training mix. Input is a
    * bucket-labeled frame from
    * [[graft.operators.TextAnalysis.nllRankBuckets]] or its no-sort
    * 100 TB form [[graft.operators.TextAnalysis.nllSketchBuckets]].
    * Membership rides [[hashSample]]'s md5 key, so the same document
    * survives on every run, engine, and partitioning — and the whole
    * selection is a scan-stage codegen'd filter: no shuffle, no state
    * on top of whatever the bucketing itself cost. */
  def ccnetSample(bucketed: DataFrame, idCol: String,
      middleRate: Double): DataFrame =
    bucketed.filter(col("bucket_label") === "head" ||
      (col("bucket_label") === "middle" &&
        sampleKey(col(idCol)) < lit(rateBound(middleRate))))

  /** Deterministic train/val/test (or any k-way) split: consecutive
    * half-open hash ranges [prev, bound) labeled in order, remainder →
    * `default`. The same id lands in the same split on every run, on
    * any cluster, at any partitioning — the property eval hygiene
    * actually requires (a df.sample-based split reshuffles membership
    * whenever the partitioning changes). `cuts` are (label,
    * exclusive-upper-hex-bound) with strictly increasing bounds. */
  def hashSplit(id: Column, cuts: Seq[(String, String)],
      default: String): Column = {
    require(cuts.nonEmpty)
    require(cuts.map(_._2).sliding(2).forall(s => s.length < 2 || s(0) < s(1)),
      s"cut bounds must be strictly increasing: ${cuts.map(_._2)}")
    val key = sampleKey(id)
    cuts.foldRight(lit(default)) { case ((label, bound), rest) =>
      when(key < lit(bound), lit(label)).otherwise(rest)
    }
  }

  /** Deterministic global shuffle + sharding — the last hop of a
    * training-data build (after curation and tokenization, examples
    * must reach the trainer in pseudo-random order, balanced across
    * shard files). Assigns `shard` from an md5 draw on the id
    * (domain-separated from [[sampleKey]]/[[hashSplit]] draws, so
    * sharding is independent of any sampling/split decision made
    * upstream) and a within-shard order key `__ord` from a second
    * independent draw. The SAME id lands in the same shard at the
    * same position on every run, engine, and partitioning — a
    * df.orderBy(rand()) shuffle reshuffles membership per run and
    * needs a global sort; this is one narrow hash shuffle plus
    * per-shard local sorts (see [[writeShards]]), no total order
    * anywhere. */
  def shuffleShards(docs: DataFrame, idCol: String,
      nShards: Int): DataFrame = {
    require(nShards >= 1, s"shuffleShards: nShards must be >= 1: $nShards")
    docs
      .withColumn("shard", pmod(
        conv(substring(md5(concat(lit("shard:"),
          col(idCol).cast("string"))), 1, 8), 16, 10).cast("long"),
        lit(nShards.toLong)).cast("int"))
      .withColumn("__ord", md5(concat(lit("ord:"),
        col(idCol).cast("string"))))
  }

  /** Write a [[shuffleShards]] frame as one directory per shard with
    * rows in the deterministic shuffled order: repartition BY the
    * shard column (each shard's rows land in one task — no global
    * sort, shard count bounds the write parallelism exactly like the
    * VectorStore's cell write) + sortWithinPartitions on the order
    * draw. Parquet preserves in-file row order, so a reader streaming
    * shard k sees the same example order every build. */
  def writeShards(sharded: DataFrame, idCol: String, dir: String): Unit =
    sharded.repartition(col("shard"))
      // the sort LEADS with the partition column: FileFormatWriter
      // requires rows sorted by partition columns and would otherwise
      // insert its own NON-STABLE sort on `shard`, scrambling the
      // draw order this writer exists to lay down
      .sortWithinPartitions(col("shard"), col("__ord"), col(idCol))
      .drop("__ord")
      .write.mode("overwrite").partitionBy("shard").parquet(dir)

  /** Per-group sampling rates (e.g. downsample the dominant language,
    * keep all of a rare one): rows keep when their hash key falls
    * under their group's bound; groups absent from `rates` get
    * `defaultRate`. Same determinism contract as [[hashSample]]. */
  def stratifiedHashSample(df: DataFrame, idCol: String, groupCol: String,
      rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val bound = rates.foldLeft(lit(rateBound(defaultRate))) {
      case (acc, (g, r)) =>
        when(col(groupCol) === g, lit(rateBound(r))).otherwise(acc)
    }
    df.filter(sampleKey(col(idCol)) < bound)
  }

  // -------------------------------------------------------------------
  // Per-group quota cap
  // -------------------------------------------------------------------

  /** Keep the k best rows per group (ord DESC, id ASC tie-break) —
    * the "at most N documents per domain" curation quota. Runs on the
    * bounded [[graft.expressions.TopKBy]] aggregate, NOT a row_number
    * window: the window form shuffles every row to its group's reducer
    * and a heavy-hitter domain (the norm in web data — one domain can
    * be 1% of 100 TB) becomes a straggler task; the aggregate form
    * forwards at most k rows per (map task, group) — skew-immune by
    * construction, map-side combined, no WindowExec anywhere.
    *
    * Returns (groupCol, rank: int 1..k, idCol: long, __ord: double);
    * join back on idCol for payloads (the payload never rides through
    * the aggregation). */
  def perGroupCap(df: DataFrame, groupCol: String, idCol: String,
      ord: Column, k: Int): DataFrame =
    df.groupBy(col(groupCol))
      .agg(TopKByExpr.topkBy(ord.cast("double"), col(idCol).cast("long"), k)
        .as("__tk"))
      .select(col(groupCol), posexplode(col("__tk")))
      .select(col(groupCol), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as(idCol), col("col.ord").as("__ord"))

  /** Deterministic uniform sample of EXACTLY min(k, |group|) rows per
    * group — eval-set construction ("7 examples per domain") where
    * [[stratifiedHashSample]]'s rate-based form gives only an expected
    * count. Selection is the k smallest md5-derived draws per group:
    * uniform, reproducible on any partitioning/engine (the gate oracle
    * replays it in DuckDB), and skew-immune — it runs on the bounded
    * [[graft.expressions.TopKBy]] aggregate, so at most k rows per
    * (map task, group) reach the shuffle even when one group is 1% of
    * the corpus. Returns (groupCol, rank 1..k, idCol); join back on
    * idCol for payloads. */
  def uniformGroupSample(df: DataFrame, groupCol: String, idCol: String,
      k: Int): DataFrame =
    perGroupCap(df, groupCol, idCol,
      -hashDraw(col(idCol)).cast("double"), k)
      .select(col(groupCol), col("rank"), col(idCol))

  /** Weight-proportional sample WITHOUT replacement of exactly
    * min(k, positive-weight rows) per group — "sample by quality
    * score" curation, where a doc's chance of selection scales with
    * `weight` (Efraimidis–Spirakis A-ES: keep the k largest
    * u^(1/w), ranked here by the monotone-equivalent ln(u)/w).
    *
    * Deterministic on any partitioning/engine: u = (draw+0.5)/2^32 is
    * a dyadic rational of the md5 [[hashDraw]] (exactly representable,
    * identical in DuckDB), and w should be an integer-valued column
    * (char counts, token counts) so the division is one exactly-
    * rounded IEEE op. `ln` is the lone libm call; a cross-engine flip
    * needs two keys within ~1 ulp, vanishing for continuous draws.
    * Rows with null/non-positive weight are never sampled (w <= 0 has
    * no A-ES key). Skew-immune like [[uniformGroupSample]]: rides the
    * bounded [[graft.expressions.TopKBy]] aggregate, at most k rows
    * per (map task, group) reach the shuffle. Returns (groupCol,
    * rank 1..k heaviest-first tendency, idCol); join back on idCol
    * for payloads. */
  def weightedGroupSample(df: DataFrame, groupCol: String, idCol: String,
      weight: Column, k: Int): DataFrame = {
    val u = (hashDraw(col(idCol)).cast("double") + 0.5) / 4294967296.0
    perGroupCap(df.filter(weight.isNotNull && weight > 0),
      groupCol, idCol, log(u) / weight.cast("double"), k)
      .select(col(groupCol), col("rank"), col(idCol))
  }

  // -------------------------------------------------------------------
  // Sequence packing (token-budget offsets)
  // -------------------------------------------------------------------

  /** Packed-pretraining offsets: lay the corpus out as one virtual
    * token stream in `idCol` order and report, per document, its start
    * offset and the first/last training sequence (budget-sized slots)
    * it lands in — exactly the bookkeeping packed-sequence pretraining
    * needs (documents straddle sequence boundaries; the boundary map
    * IS the packing).
    *
    * The global running sum is a two-phase prefix sum, not a window:
    * `sum().over(Window.orderBy(id))` funnels the corpus through ONE
    * reducer (the SURVEY §7.4 scale cliff). Here: range-repartition on
    * id, per-partition token totals (a `collect()` of one long per
    * partition), scanLeft those into partition start offsets, then a
    * second per-partition pass assigns running offsets (`zipWithIndex`'s
    * shape, summing tokens where it counts rows). Both passes run over
    * the SAME materialized RDD object, so the (sampled) range
    * boundaries cannot drift between them.
    *
    * Input must carry (idCol, tokCol); tokCol must be non-negative.
    * Output: input columns + start_off, first_seq, last_seq (longs).
    */
  def packSequences(df: DataFrame, idCol: String, tokCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(col(idCol))
      .sortWithinPartitions(col(idCol))
    val tokIdx = sorted.schema.fieldIndex(tokCol)
    // localCheckpoint pins ONE physical materialization for both passes:
    // the per-partition sums (pass 1) and the offset assignment (pass 2)
    // must see identical partition boundaries, and repartitionByRange's
    // sampled boundaries are only guaranteed identical if the second
    // pass reads the first's blocks instead of re-planning the exchange.
    // (Trade-off: checkpointed blocks are not recomputable on executor
    // loss — acceptable for a two-pass bounded job; the alternative,
    // boundary drift, silently corrupts every offset after the first
    // drifted partition.)
    val rdd = sorted.rdd.localCheckpoint()
    val sums = rdd.mapPartitionsWithIndex { case (i, it) =>
      var s = 0L
      it.foreach(r => s += r.getAs[Number](tokIdx).longValue())
      Iterator.single(i -> s)
    }.collect().sortBy(_._1)
    val offsets = sums.map(_._2).scanLeft(0L)(_ + _)
    val offsetByPart = sums.map(_._1).zip(offsets).toMap
    val withOff = rdd.mapPartitionsWithIndex { case (i, it) =>
      var run = offsetByPart(i)
      it.map { r =>
        val t = r.getAs[Number](tokIdx).longValue()
        require(t >= 0, s"negative token count: $t")
        val row = Row.fromSeq(r.toSeq :+ run)
        run += t
        row
      }
    }
    // `div` (integer floor-division on non-negative longs), not `/`:
    // double division goes inexact past 2^53 total tokens.
    spark.createDataFrame(withOff, sorted.schema.add("start_off", "long"))
      .withColumn("first_seq", expr(s"start_off div ${budget}L"))
      .withColumn("last_seq", greatest(col("first_seq"),
        expr(s"(start_off + `$tokCol` - 1) div ${budget}L")))
  }

  // -------------------------------------------------------------------
  // Cross-document boilerplate line removal
  // -------------------------------------------------------------------

  /** Remove lines that recur (normalized: lower+trim) in more than
    * `maxDocs` DISTINCT documents — the standard web-curation pass for
    * nav bars, cookie banners, and footers that survive per-document
    * quality filters because every individual page looks fine.
    *
    * Scale shape: lines travel the counting shuffle as (xxhash64, id)
    * — 16 bytes/line, never the text; the distinct + count is
    * partial-aggregated, and the hot-line set (true boilerplate is a
    * tiny fraction of distinct lines) joins back against the exploded
    * lines, which AQE broadcasts when it is small. Reassembly is one
    * groupBy(id) over the kept lines. Lines shorter than `minChars`
    * (blank lines, list bullets, "yes") are never counted as
    * boilerplate — dropping every empty line in the corpus is not
    * cleaning.
    *
    * Returns (idCol, textCol, n_removed) for EVERY input document —
    * one whose every line was boilerplate comes back with empty text,
    * not silently dropped. */
  def removeBoilerplate(corpus: DataFrame, idCol: String, textCol: String,
      maxDocs: Long, minChars: Int = 10): DataFrame = {
    val lines = corpus.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("norm", lower(trim(col("line"))))
      .withColumn("lh", xxhash64(col("norm")))
    val hot = lines.filter(length(col("norm")) >= minChars)
      .select(col("lh"), col(idCol)).distinct()
      .groupBy(col("lh")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") > maxDocs)
      .select(col("lh"))
    val kept = lines.join(hot, Seq("lh"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          p => p.getField("line")), "\n").as(textCol),
        count(lit(1)).as("__kept"))
    // size(split(NULL)) is -1 (legacy sizeOfNull), which would surface
    // as n_removed = -1 for a null-text doc — coalesce keeps the
    // every-document-returns contract honest: null text ⇒ 0 lines,
    // n_removed = 0
    val totals = corpus.select(col(idCol),
      coalesce(size(split(col(textCol), "\n")), lit(0))
        .cast("long").as("__total"))
    totals.join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col(textCol), lit("")).as(textCol),
        (col("__total") - coalesce(col("__kept"), lit(0L)))
          .cast("long").as("n_removed"))
  }

  // -------------------------------------------------------------------
  // Model-assisted curation: broadcast linear scoring
  // -------------------------------------------------------------------

  /** Linear model over a feature vector — the fastText-/logistic-style
    * quality classifier applied at corpus scale: weights ride as plan
    * literals (broadcast by construction), the score is one codegen'd
    * expression per row, no shuffle, no UDF, no model-serving hop.
    *
    * Returns the LOGIT bias + Σ wᵢ·features[i], accumulated in strict
    * left-to-right order so every engine computes the identical double
    * (the gate oracle replays it in DuckDB). Deliberately no sigmoid:
    * curation thresholds on the score, and a monotone transform cannot
    * change a threshold decision — while exp() ULP differences across
    * libm implementations would break cross-engine reproducibility. */
  def linearScore(features: Column, weights: Seq[Double],
      bias: Double): Column = {
    require(weights.nonEmpty)
    weights.zipWithIndex.foldLeft(lit(bias): Column) {
      case (acc, (w, i)) => acc + element_at(features, i + 1) * lit(w)
    }
  }

  // -------------------------------------------------------------------
  // Domain mixture reweighting
  // -------------------------------------------------------------------

  /** Deterministic domain-mixture downsampling: given relative target
    * weights per group (they need not sum to 1 — only proportions
    * matter), find the LARGEST total mass T the corpus can serve at
    * those proportions without upsampling anyone (water-filling:
    * T = min over groups of available/target), then hash-sample each
    * group at rate target·T/available. The binding group keeps
    * everything; oversupplied groups downsample; groups absent from
    * `targets` are dropped (weight 0). Expected kept `massCol` per
    * group then sits at the target proportions (exact in expectation —
    * membership is by row hash, independent of row mass).
    *
    * Driver-side work is one bounded collect (a row per group). The
    * filter itself is [[stratifiedHashSample]]: scan-stage, stateless,
    * reproducible on any partitioning — re-running the pipeline keeps
    * the SAME documents, which row-count-quota approaches do not
    * guarantee.
    *
    * `massCol`: the quantity whose mixture is being balanced — token
    * count for LLM mixtures, n_chars as a cheap proxy, lit(1) for
    * row-count balancing. */
  def mixDomains(df: DataFrame, idCol: String, groupCol: String,
      massCol: Column, targets: Map[String, Double]): DataFrame = {
    require(targets.nonEmpty)
    require(targets.values.forall(_ > 0), s"targets must be > 0: $targets")
    val inScope = df.filter(col(groupCol).isin(targets.keys.toSeq: _*))
    val avail: Map[String, Long] = inScope
      .groupBy(col(groupCol)).agg(sum(massCol.cast("long")).as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a target group with NO rows must fail loudly, not be silently
    // excluded from the water-filling min — otherwise the returned
    // mixture is missing a requested component and nothing says so
    val missing = targets.keySet -- avail.keySet
    require(missing.isEmpty,
      s"target groups absent from the corpus: ${missing.toSeq.sorted}")
    require(avail.values.forall(_ > 0),
      s"every target group needs positive available mass: $avail")
    val t = avail.map { case (g, a) => a.toDouble / targets(g) }.min
    val rates = avail.map { case (g, a) =>
      g -> math.min(1.0, targets(g) * t / a.toDouble)
    }
    stratifiedHashSample(inScope, idCol, groupCol, rates, 0.0)
  }

  /** Temperature-derived mixture targets — temperature sampling for
    * multi-domain/multilingual corpora (Arivazhagan et al. 2019 §4.2,
    * arXiv:1907.05019, public literature; the UniMax paper's baseline):
    * target_i ∝ m_i^(1/T). T = 1 keeps natural proportions; larger T
    * flattens toward uniform, raising tail domains' RELATIVE share.
    * Feed the result to [[mixDomains]], which water-fills DOWN (never
    * upsamples), so the flattened mixture is served by downsampling
    * the head domains — the no-repeat regime. One bounded collect
    * (a row per group); T = 2 makes the exponent a square root, which
    * IEEE rounds correctly on every engine (pow in general does not —
    * prefer T = 2 when the mixture must be bit-replayable). */
  def temperatureTargets(df: DataFrame, groupCol: String,
      massCol: Column, temperature: Double): Map[String, Double] = {
    require(temperature >= 1.0,
      s"temperatureTargets: temperature must be >= 1, got $temperature")
    df.groupBy(col(groupCol)).agg(sum(massCol.cast("long")).as("m"))
      .collect()
      .map(r => r.getString(0) ->
        math.pow(r.getLong(1).toDouble, 1.0 / temperature))
      .toMap
  }

  // -------------------------------------------------------------------
  // PII redaction
  // -------------------------------------------------------------------

  /** Email / phone patterns. Deliberately restricted to syntax RE2 and
    * java.util.regex agree on (character classes, bounded quantifiers —
    * no backrefs or lookaround) so the DuckDB oracle runs the SAME
    * pattern; at scale they evaluate inside the scan's codegen stage.
    * The whitespace class is spelled out explicitly instead of \s:
    * java.util.regex's \s includes vertical tab (\x0B) while RE2's does
    * not, so the shorthand would make the two engines disagree on a
    * phone-like run containing a vertical tab. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "[+(]?[0-9][0-9() \\t\\n\\r\\f.-]{6,}[0-9]"

  def countEmails(text: Column): Column =
    size(regexp_extract_all(text, lit(emailRe), lit(0)))
  def countPhones(text: Column): Column =
    size(regexp_extract_all(text, lit(phoneRe), lit(0)))

  /** Scrub emails then phones (emails first — their local parts contain
    * digits a phone pattern could half-match once the '@' is gone). */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>")

  // -------------------------------------------------------------------
  // Token-window chunking (embedding-pipeline prep)
  // -------------------------------------------------------------------

  /** Split a document into overlapping token windows — the prep step
    * before embedding long documents (encoder context is bounded;
    * overlap keeps boundary-straddling phrases findable). Chunk i
    * starts at token i·(chunkSize−overlap); a final start whose whole
    * window is already inside the previous chunk (start+overlap ≥ n,
    * start > 0) is dropped, so every token is covered and no chunk is
    * a pure suffix of its predecessor. Case is preserved (chunking is
    * not normalization). Pure array expressions per row — chunks for
    * a 100 TB corpus cost one codegen'd scan, no shuffle; explode at
    * the call site only if per-chunk rows are actually needed. */
  def chunkTokens(text: Column, chunkSize: Int, overlap: Int): Column = {
    require(overlap >= 0 && chunkSize > overlap,
      s"need 0 <= overlap < chunkSize: chunkSize=$chunkSize overlap=$overlap")
    val step = chunkSize - overlap
    // lambda-bound once: the starts filter and the chunk transform both
    // reference the token array per element — inlined, each chunk would
    // re-split the document (O(n²/step) per doc)
    TextAnalysis.bindOnce(split(trim(text), "\\s+")) { words =>
      val n = size(words)
      val starts = filter(
        sequence(lit(0), greatest(n - 1, lit(0)), lit(step)),
        st => (st === 0) || (st + overlap < n))
      transform(starts,
        st => array_join(slice(words, st + 1, lit(chunkSize)), " "))
    }
  }

  /** Sentence-snapping chunker: greedily pack whole SENTENCES into
    * chunks of ≤ `maxTokens` whitespace tokens — the RAG/pretraining
    * chunk shape where [[chunkTokens]]' fixed windows would cut
    * mid-sentence. A sentence longer than the budget becomes its own
    * oversized chunk (never split mid-sentence here; post-split those
    * with [[chunkTokens]] if hard caps matter).
    *
    * Sentence boundaries are terminal punctuation ([.!?]) followed by
    * whitespace, found RE2-SAFELY (capture-replace with a \u001f
    * (unit-separator) marker, then split — RE2 has no lookbehind, and every regex in
    * this file must replay in the DuckDB oracle; texts containing the
    * \u001f control char are out of contract). Pure per-row array
    * expressions: one tokenization-free greedy fold per row, map-only
    * at any scale. */
  def chunkSentences(text: Column, maxTokens: Int): Column = {
    require(maxTokens > 0, s"chunkSentences: maxTokens > 0: $maxTokens")
    val sep = "\u001f"
    val sents = filter(
      split(regexp_replace(trim(text), "([.!?])\\s+", "$1" + sep), sep),
      s => s =!= "")
    TextAnalysis.bindOnce(sents) { ss =>
      def st(chunks: Column, cur: Column, cnt: Column) =
        struct(chunks.as("chunks"), cur.as("cur"), cnt.as("cnt"))
      val zero = st(array().cast("array<string>"), lit(""), lit(0))
      aggregate(ss, zero,
        (acc, s) => {
          val sTok = size(filter(split(s, "\\s+"), w => w =!= ""))
          val merged = acc.getField("cnt") + sTok
          when(acc.getField("cnt") === 0,
            st(acc.getField("chunks"), s, sTok))
            .when(merged <= maxTokens,
              st(acc.getField("chunks"),
                concat(acc.getField("cur"), lit(" "), s), merged))
            .otherwise(st(
              concat(acc.getField("chunks"),
                array(acc.getField("cur"))), s, sTok))
        },
        acc => when(acc.getField("cnt") > 0,
          concat(acc.getField("chunks"), array(acc.getField("cur"))))
          .otherwise(acc.getField("chunks")))
    }
  }

  // -------------------------------------------------------------------
  // Intra-document repetition (Gopher-style quality signal)
  // -------------------------------------------------------------------

  /** Duplicate word-n-gram fraction inside one document:
    * 1 − |distinct n-grams| / |n-grams| (0.0 when the text has fewer
    * than n words). Repetitive/boilerplate text — the single strongest
    * cheap quality signal after length — scores high; natural prose
    * scores near 0. Pure array expressions over one tokenization, per
    * row, inside whole-stage codegen; no shuffle, no explode. */
  def dupNgramFrac(text: Column, n: Int): Column =
    // three references (two sizes + distinct) — bound once so the gram
    // construction runs once per row in the interpreted HOF path
    TextAnalysis.bindOnce(wordNgrams(text, n)) { grams =>
      when(size(grams) > 0,
        round(lit(1.0) - size(array_distinct(grams)).cast("double")
          / size(grams), 6))
        .otherwise(lit(0.0))
    }

  // -------------------------------------------------------------------
  // Gopher document-quality rules
  // -------------------------------------------------------------------

  /** The Gopher rule set's stop-word list (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1): a document is expected to contain at
    * least 2 of these 8 — word soup and non-English fragments fail. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** One-pass run statistics over a SORTED string array:
    * struct<dup_chars — Σ over items occurring ≥ 2×: count·len(item),
    * top_cnt, top_item — the most frequent item, count ties broken to
    * the lexicographically SMALLEST (sorted input makes "first run
    * wins" exactly that)>. A single `aggregate` fold per row — the
    * linear-time alternative to the O(m²) `filter`-count-per-distinct
    * shape, and the per-row alternative to an explode + groupBy shuffle
    * that a 100 TB corpus cannot afford for a per-document metric. */
  private def sortedRunStats(sorted: Column): Column = {
    // close the open run: fold its count into dup_chars / the argmax
    def closed(acc: Column): (Column, Column, Column) = {
      val run = acc.getField("run"); val prev = acc.getField("prev")
      val dup = acc.getField("dup") +
        when(run >= 2L, run * length(prev).cast("long")).otherwise(0L)
      val better = run > acc.getField("bcnt")
      (dup,
        when(better, run).otherwise(acc.getField("bcnt")),
        when(better, prev).otherwise(acc.getField("bgram")))
    }
    aggregate(sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("dup"),
        lit(0L).as("bcnt"), lit("").as("bgram")),
      (acc, x) => {
        val (d, c, g) = closed(acc)
        when(x === acc.getField("prev"),
          struct(x.as("prev"), (acc.getField("run") + 1L).as("run"),
            acc.getField("dup").as("dup"),
            acc.getField("bcnt").as("bcnt"),
            acc.getField("bgram").as("bgram")))
        .otherwise(
          struct(x.as("prev"), lit(1L).as("run"), d.as("dup"),
            c.as("bcnt"), g.as("bgram")))
      },
      acc => {
        val (d, c, g) = closed(acc)
        struct(d.as("dup_chars"), c.as("top_cnt"), g.as("top_item"))
      })
  }

  /** The full Gopher quality-rule report (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1 — public literature; the de-facto standard
    * heuristic filter set for web-scale pretraining corpora), as ONE
    * struct computed per row from ONE tokenization and ONE line split:
    *
    *  - word_count, mean_word_len
    *  - symbol_word_ratio: ('#' + '...' + '…' occurrences) / words
    *  - bullet_line_frac / ellipsis_line_frac over trimmed non-empty
    *    lines (bullets: '-' '*' '•' starts; ellipsis: '...' '…' ends)
    *  - alpha_word_frac: words containing ≥ 1 [A-Za-z]
    *  - stopword_hits: how many DISTINCT [[gopherStopwords]] appear
    *  - dup_line_frac (1 − distinct/total) and dup_line_char_frac
    *    (chars inside lines occurring ≥ 2×, over total line chars)
    *  - top_{2,3,4}gram_char_frac: count(top gram)·len(top gram) over
    *    the single-spaced text length; count ties break to the
    *    lexicographically smallest gram (pinned in both engines)
    *  - dup_{5,10}gram_char_frac: Σ count·len over grams occurring
    *    ≥ 2×, same denominator (overlapping windows can exceed 1.0 —
    *    threshold semantics only, as in the paper)
    *
    * All fractions are round(·, 6); every metric is 0 (not null) on
    * empty/null text so downstream thresholds never null-propagate.
    * Scale shape: pure array expressions + linear `aggregate` folds per
    * row — no explode, no shuffle, no UDF; the n-gram folds sort m-gram
    * arrays per row (m log m on in-memory arrays), which at 100 TB is
    * still a map-only scan. Materialize the struct ONCE per row (its
    * own projection, like [[graft.operators.TextAnalysis.textStats]])
    * and derive columns via getField.
    *
    * CAUTION — derived input columns: higher-order functions evaluate
    * INTERPRETED (no codegen, no common-subexpression reuse), and
    * Catalyst's CollapseProject will inline an upstream computed text
    * column into every one of this struct's ~90 references — a cleaning
    * expression upstream then re-evaluates ~90× per row (measured 38×
    * wall on the c2 corpus). Cache or checkpoint the projection that
    * computes the text first; [[graft.pipelines.CorpusPipeline.qualityGate]]
    * shows the pattern. */
  def gopherReport(text: Column,
      stopwords: Seq[String] = gopherStopwords): Column = {
    val t = coalesce(text, lit(""))
    val wsr = filter(split(trim(t), "\\s+"), w => w =!= "")
    val ws = transform(wsr, w => lower(w))
    val wc = size(wsr).cast("long")
    val sumLen = aggregate(wsr, lit(0L), (a, w) => a + length(w).cast("long"))
    val meanLen = when(wc === 0L, lit(0.0))
      .otherwise(round(sumLen.cast("double") / wc, 6))
    val nHash = (length(t) - length(replace(t, lit("#")))).cast("long")
    val nEll3 = ((length(t) - length(replace(t, lit("...")))) / 3).cast("long")
    val nEllU = (length(t) - length(replace(t, lit("…")))).cast("long")
    val symbolRatio = when(wc === 0L, lit(0.0))
      .otherwise(round((nHash + nEll3 + nEllU).cast("double") / wc, 6))
    val lines = filter(transform(split(t, "\n"), l => trim(l)), l => l =!= "")
    val nl = size(lines).cast("long")
    val bulletFrac = when(nl === 0L, lit(0.0)).otherwise(round(
      size(filter(lines, l => l.startsWith("-") || l.startsWith("*") ||
        l.startsWith("•"))).cast("double") / nl, 6))
    val ellipsisFrac = when(nl === 0L, lit(0.0)).otherwise(round(
      size(filter(lines, l => l.endsWith("...") || l.endsWith("…")))
        .cast("double") / nl, 6))
    val alphaFrac = when(wc === 0L, lit(0.0)).otherwise(round(
      size(filter(wsr, w => w.rlike("[A-Za-z]"))).cast("double") / wc, 6))
    val stopHits = stopwords.map(s =>
      when(array_contains(ws, s), 1L).otherwise(0L)).reduce(_ + _)
    val dupLineFrac = when(nl === 0L, lit(0.0)).otherwise(round(
      lit(1.0) - size(array_distinct(lines)).cast("double") / nl, 6))
    val lineChars = aggregate(lines, lit(0L),
      (a, l) => a + length(l).cast("long"))
    val lineStats = sortedRunStats(array_sort(lines))
    val dupLineCharFrac = when(lineChars === 0L, lit(0.0)).otherwise(round(
      lineStats.getField("dup_chars").cast("double") / lineChars, 6))
    // single-spaced length of the lowercased token join — the exact
    // character mass the gram strings are built from
    val denomG = when(wc === 0L, lit(0L))
      .otherwise(length(array_join(ws, " ")).cast("long"))
    def topFrac(n: Int): Column = {
      val st = sortedRunStats(array_sort(ngramsFromWords(ws, n)))
      when(denomG === 0L, lit(0.0)).otherwise(round(
        (st.getField("top_cnt") * length(st.getField("top_item"))
          .cast("long")).cast("double") / denomG, 6))
    }
    def dupFrac(n: Int): Column = {
      val st = sortedRunStats(array_sort(ngramsFromWords(ws, n)))
      when(denomG === 0L, lit(0.0)).otherwise(round(
        st.getField("dup_chars").cast("double") / denomG, 6))
    }
    struct(
      wc.as("word_count"), meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_word_ratio"),
      bulletFrac.as("bullet_line_frac"),
      ellipsisFrac.as("ellipsis_line_frac"),
      alphaFrac.as("alpha_word_frac"), stopHits.as("stopword_hits"),
      dupLineFrac.as("dup_line_frac"),
      dupLineCharFrac.as("dup_line_char_frac"),
      topFrac(2).as("top_2gram_char_frac"),
      topFrac(3).as("top_3gram_char_frac"),
      topFrac(4).as("top_4gram_char_frac"),
      dupFrac(5).as("dup_5gram_char_frac"),
      dupFrac(10).as("dup_10gram_char_frac"))
  }

  /** Compiled one-pass form of [[gopherReport]] — identical 14-field
    * struct from the native [[graft.expressions.GopherStats]]
    * expression (primitive counters + hash-map run counting instead of
    * nine interpreted `aggregate` folds; ~50× per row on multi-line
    * docs, measured on the c2 corpus). GopherSpec pins fused ≡ composed
    * field-for-field, including the UTF-8 tie-break and rounding. The
    * composed form stays as the executable specification. */
  def gopherReportFused(text: Column): Column =
    graft.expressions.GopherStatsExpr.gopherStats(text)

  /** The paper's keep/drop decision over a [[gopherReport]] struct —
    * thresholds exactly as published (word count 50..100k, mean word
    * length 3..10, symbol ratio ≤ 0.1, bullet lines ≤ 90%, ellipsis
    * lines ≤ 30%, alpha words ≥ 80%, ≥ 2 stop words, dup lines ≤ 30%
    * by count / ≤ 20% by chars, top-{2,3,4}-gram chars ≤ {20,18,16}%,
    * dup-{5,10}-gram chars ≤ {15,10}%).
    *
    * The 14 field reads bind `r` through a single-element lambda
    * (`exists(array(r), ...)`) rather than 14 direct getFields: a
    * pushed-down interpreted predicate has NO common-subexpression
    * reuse, so 14 getFields over the report EXPRESSION re-evaluate all
    * nine sorted folds 14× per row — measured 19.1 s → 1.4 s on the c2
    * corpus. The lambda variable evaluates its argument exactly once;
    * the checks then read struct fields. Semantically identical for a
    * materialized struct column, 14× cheaper for an inline expression. */
  def gopherPass(r: Column): Column =
    exists(array(r), x =>
      x.getField("word_count").between(50L, 100000L) &&
      x.getField("mean_word_len").between(3.0, 10.0) &&
      x.getField("symbol_word_ratio") <= 0.1 &&
      x.getField("bullet_line_frac") <= 0.9 &&
      x.getField("ellipsis_line_frac") <= 0.3 &&
      x.getField("alpha_word_frac") >= 0.8 &&
      x.getField("stopword_hits") >= 2L &&
      x.getField("dup_line_frac") <= 0.3 &&
      x.getField("dup_line_char_frac") <= 0.2 &&
      x.getField("top_2gram_char_frac") <= 0.2 &&
      x.getField("top_3gram_char_frac") <= 0.18 &&
      x.getField("top_4gram_char_frac") <= 0.16 &&
      x.getField("dup_5gram_char_frac") <= 0.15 &&
      x.getField("dup_10gram_char_frac") <= 0.10)

  /** One-call corpus summary ("dataset card"): the topline numbers a
    * curation run reports — volume, token mass, exact-dup rate, Gopher
    * pass rate, document-length quantiles, dominant language. ALWAYS
    * one row out (an empty corpus yields n_docs = 0 with null
    * rates/quantiles/top_lang, never zero rows); every statistic
    * deterministic and engine-replayable (cd1 gate hash-pins all of
    * them).
    *
    * Scale shape: one wide scan computes the fused Gopher report and
    * feeds three bounded aggregations — the global counters (map-side
    * partial agg), the exact-dup distinct (ONE narrow md5-hash
    * shuffle; text bytes never move), and the deterministic length
    * sketch (a few hundred (bkt, cnt) rows) — plus a language
    * frequency table (narrow, bounded by the language count). The
    * combining joins are 1-row × ≤1-row. No window touches the corpus;
    * no payload shuffles. */
  def datasetCard(docs: DataFrame, textCol: String,
      langCol: String): DataFrame = {
    // null langs coalesce to 'und' BEFORE the frequency table: the
    // dominant-language argmax tie-breaks via min(struct(-c, lang)),
    // and Spark's struct ordering puts a NULL field first while SQL
    // engines' ORDER BY ... , lang puts it last — a null group tying
    // the top count would otherwise pick a different winner per
    // engine (and surface top_lang = NULL). 'und' is ISO 639-2's
    // undetermined-language code and orders like any other string.
    val base = docs.select(col(textCol).as("text"),
      coalesce(col(langCol).cast("string"), lit("und")).as("lang"))
    val main = base
      .withColumn("__g", gopherReportFused(col("text")))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__g").getField("word_count")).as("n_words"),
        sum(when(gopherPass(col("__g")), 1L).otherwise(0L))
          .as("n_gopher_pass"))
    val dups = base.agg((count(col("text")) - countDistinct(
      graft.operators.Dedup.contentHash(col("text"))))
      .as("n_exact_dups"))
    // constant sketch key: quantiles windows over the per-group bucket
    // rows, and the engine-wide no-unpartitioned-window rule holds
    val lens = graft.ops.QuantileSketch.summarize(
      base.select(lit(0).as("__k"),
        length(col("text")).cast("long").as("len")),
      Seq("__k"), "len")
    val lq = graft.ops.QuantileSketch.quantiles(lens, Seq("__k"),
        Seq(("p50_chars", 1, 2), ("p99_chars", 99, 100)))
      .drop("__k")
    // deterministic argmax as a GLOBAL aggregate (one row even over an
    // empty corpus, unlike an ORDER BY/LIMIT 1 frame): min of
    // (-count, lang) is (count DESC, lang ASC)
    val topLang = base.groupBy(col("lang"))
      .agg(count(lit(1)).as("__c"))
      .agg(min(struct((-col("__c")).as("nc"), col("lang").as("l")))
        .as("__t"))
      .select(col("__t").getField("l").as("top_lang"),
        (-col("__t").getField("nc")).as("__top_c"))
    // main/dups/topLang are global aggregates (exactly one row each);
    // lq is one row per populated sketch group (zero on an empty
    // corpus) — the left join keeps the card row alive with null
    // quantiles instead of annihilating it
    def rate(n: Column): Column =
      round(when(col("n_docs") > 0, n.cast("double") / col("n_docs")), 6)
    main.withColumn("__j", lit(1))
      .join(dups.withColumn("__j", lit(1)), Seq("__j"))
      .join(topLang.withColumn("__j", lit(1)), Seq("__j"))
      .join(lq.withColumn("__j", lit(1)), Seq("__j"), "left")
      .select(col("n_docs"), col("n_words"),
        col("n_exact_dups"),
        rate(col("n_exact_dups")).as("dup_rate"),
        col("n_gopher_pass"),
        rate(col("n_gopher_pass")).as("gopher_pass_rate"),
        col("p50_chars"), col("p99_chars"),
        col("top_lang"),
        rate(col("__top_c")).as("top_lang_frac"))
  }

  // -------------------------------------------------------------------
  // C4 line-level cleaning
  // -------------------------------------------------------------------

  /** C4-style line-level cleaning (Raffel et al. 2020, arXiv:1910.10683
    * §2.2 — public literature): split a page into lines, keep only
    * lines that (a) end in a terminal punctuation mark (`. ! ? "`),
    * (b) contain ≥ `minLineWords` words, and (c) do not mention
    * "javascript" (case-insensitive); then decide the PAGE: kept iff
    * ≥ `minLines` lines survive AND the raw text contains neither
    * "lorem ipsum" (case-insensitive) nor a curly brace. (The paper's
    * remaining steps live elsewhere in this engine: the bad-words list
    * is deployment-specific — pass extra phrases via `badLinePhrases` —
    * and the three-sentence-span corpus dedup is
    * [[graft.operators.Dedup.repeatedSpans]].)
    *
    * Returns struct<clean_text — surviving lines joined by '\n',
    * n_lines_kept, n_lines_dropped, is_kept>. `clean_text` is returned
    * even when `is_kept` is false so callers can inspect or re-gate.
    * Pure per-row array expressions — one line split, no explode, no
    * shuffle, no UDF: a map-only scan at 100 TB. */
  /** HTML → text extraction — the step that turns a raw-web crawl into
    * the input every text-quality operator here expects (C4 / Raffel
    * et al. 2020 and RefinedWeb / Penedo et al. 2023 both extract
    * before filtering). Drops script/style blocks and comments, turns
    * block-closing tags into newlines (so [[c4LineClean]]'s line rules
    * see real lines), strips remaining tags, decodes the six common
    * entities (&amp; last, so "&amp;lt;" decodes once, not twice), and
    * normalizes whitespace. Pure per-row RE2-safe regexps — codegen'd,
    * shuffle-free, runs at parquet-scan speed at any scale. */
  def htmlToText(html: Column): Column = {
    val s0 = coalesce(html, lit(""))
    val s1 = regexp_replace(s0,
      "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val s2 = regexp_replace(s1, "(?s)<!--.*?-->", " ")
    val s3 = regexp_replace(s2,
      "(?i)<(br|hr)[^>]*>|</(p|div|li|tr|h[1-6]|title)>", "\n")
    val s4 = regexp_replace(s3, "<[^>]*>", " ")
    val s5 = replace(replace(replace(replace(replace(replace(s4,
      lit("&nbsp;"), lit(" ")),
      lit("&lt;"), lit("<")),
      lit("&gt;"), lit(">")),
      lit("&quot;"), lit("\"")),
      lit("&#39;"), lit("'")),
      lit("&amp;"), lit("&"))
    val s6 = regexp_replace(s5, "[ \\t]+", " ")
    val s7 = regexp_replace(s6, " ?\\n ?", "\n")
    val s8 = regexp_replace(s7, "\\n{3,}", "\n\n")
    // trim() strips spaces only; block tags leave edge NEWLINES too
    regexp_replace(s8, "^\\s+|\\s+$", "")
  }

  /** URL-domain + lexicon blocklist report — the C4/RefinedWeb front
    * gate: a document is `blocked` when its registered domain (via
    * [[graft.functions.UrlOps]]'s canonical host chain) is on the
    * blocklist, or when the fraction of its tokens that hit the
    * flagged-word lexicon exceeds `maxBadFrac`. Pure per-row
    * expressions: token membership tests against literal arrays (the
    * lexicon and blocklist ship inside the plan — list-sized, never a
    * join), so the report is map-only at any scale. Emits the
    * evidence columns (domain, bad_hits, word_count, bad_frac), not
    * just the verdict — the audit trail a corpus release needs. */
  def blocklistReport(docs: DataFrame, urlCol: String, textCol: String,
      blockedDomains: Seq[String], lexicon: Seq[String],
      maxBadFrac: Double): DataFrame = {
    require(maxBadFrac >= 0.0 && maxBadFrac <= 1.0,
      s"blocklistReport: maxBadFrac must be in [0, 1], got $maxBadFrac")
    require(lexicon.nonEmpty || blockedDomains.nonEmpty,
      "blocklistReport: need a lexicon or a domain blocklist")
    val lexArr = array(lexicon.map(lit): _*)
    val blockArr = array(blockedDomains.map(lit): _*)
    val dom = graft.functions.UrlOps.registeredDomain(
      graft.functions.UrlOps.hostOf(col(urlCol)))
    docs
      .withColumn("__ws", filter(
        TextAnalysis.tokens(coalesce(col(textCol), lit(""))),
        w => w =!= ""))
      .withColumn("domain", coalesce(dom, lit("")))
      .withColumn("domain_blocked",
        array_contains(blockArr, col("domain")))
      .withColumn("word_count", size(col("__ws")))
      .withColumn("bad_hits",
        size(filter(col("__ws"), w => array_contains(lexArr, w))))
      .withColumn("bad_frac", when(col("word_count") === 0, lit(0.0))
        .otherwise(round(
          col("bad_hits").cast("double") / col("word_count"), 6)))
      .withColumn("blocked",
        col("domain_blocked") || col("bad_frac") > lit(maxBadFrac))
      .drop("__ws")
  }

  def c4LineClean(text: Column, minLineWords: Int = 3, minLines: Int = 5,
      badLinePhrases: Seq[String] = Seq("javascript")): Column = {
    val t = coalesce(text, lit(""))
    // nested bindOnce: `lines` is referenced twice and `kept` three
    // times — inlined, each reference would re-run the full line
    // split + per-line word-count filter in the interpreted HOF path
    TextAnalysis.bindOnce(filter(transform(split(t, "\n"), l => trim(l)),
        l => l =!= "")) { lines =>
      TextAnalysis.bindOnce(filter(lines, l => {
        val terminal = l.endsWith(".") || l.endsWith("!") ||
          l.endsWith("?") || l.endsWith("\"")
        val words = size(filter(split(l, "\\s+"), w => w =!= ""))
        val clean = badLinePhrases.map(p => !lower(l).contains(p))
          .reduce(_ && _)
        terminal && words >= minLineWords && clean
      })) { kept =>
        val nKept = size(kept).cast("long")
        val nDropped = (size(lines) - size(kept)).cast("long")
        val pageOk = nKept >= minLines.toLong &&
          !lower(t).contains("lorem ipsum") && !t.contains("{")
        struct(
          array_join(kept, "\n").as("clean_text"),
          nKept.as("n_lines_kept"), nDropped.as("n_lines_dropped"),
          pageOk.as("is_kept"))
      }
    }
  }

  // -------------------------------------------------------------------
  // Benchmark decontamination
  // -------------------------------------------------------------------

  /** Lowercased word n-grams as an array (empty when the text has
    * fewer than n words). Same tokenization as the Dedup shingles. */
  def wordNgrams(text: Column, n: Int): Column =
    ngramsFromWords(split(lower(trim(text)), "\\s+"), n)

  /** N-grams from an already-tokenized word array — the shared core of
    * [[wordNgrams]] and [[gopherReport]] (which tokenizes ONCE and
    * derives five gram sizes from the same array). The word array is
    * lambda-bound once ([[TextAnalysis.bindOnce]]) so a composite
    * `words` expression does not re-evaluate per window. */
  def ngramsFromWords(words: Column, n: Int): Column = {
    require(n >= 1)
    TextAnalysis.bindOnce(words) { ws =>
      when(size(ws) >= n,
        transform(sequence(lit(1), size(ws) - (n - 1)),
          i => array_join(slice(ws, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
    }
  }

  /** Embedding-space decontamination — the semantic complement to the
    * n-gram [[decontaminate]]: an eval question PARAPHRASED in web text
    * shares no 8-gram but sits at high cosine to the benchmark's
    * embedding. Flags every corpus row whose vector has cosine ≥
    * `threshold` to ANY benchmark vector.
    *
    * Scale shape: both sides bucket under the SAME hyperplane family
    * (shared seed/planes), the corpus side with its single base bucket
    * (one row per vector — the 100 TB side must not multiply), the
    * benchmark side multi-probed (eval sets are small; probes × |bench|
    * rows is control-plane sized, and AQE broadcasts it). Candidates
    * equi-join by bucket, verify by exact cosine, distinct per
    * (corpus, bench) pair (multi-probe can surface one pair through
    * several buckets), then aggregate per corpus row. Recall follows
    * the hyperplane-LSH curve; near-verbatim leaks (cosine → 1) have
    * near-identical sign patterns and are found with probability → 1.
    *
    * Returns EVERY corpus row: (cIdCol, n_benchmark_matches,
    * max_cosine — null when clean, is_contaminated). */
  def semanticDecontaminate(corpus: DataFrame, cIdCol: String,
      cVecCol: String, bench: DataFrame, bIdCol: String,
      bVecCol: String, threshold: Double = 0.95, planes: Int = 12,
      seed: Long = 42L, dim: Int = -1, probes: Int = 2): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val d = if (dim > 0) dim else Similarity.inferDim(corpus, cVecCol)
    val cb = corpus.select(col(cIdCol), col(cVecCol).as("__cv"),
      Similarity.hyperplaneBucket(col(cVecCol), d, planes, seed)
        .as("bucket"))
    val bb = bench.select(col(bIdCol).as("__bid"), col(bVecCol).as("__bv"),
        explode(Similarity.multiProbeBuckets(col(bVecCol), d, planes,
          seed, probes)).as("bucket"))
    val hits = cb.join(bb, Seq("bucket"))
      .withColumn("cosine", Similarity.cosine(col("__cv"), col("__bv")))
      .filter(col("cosine") >= threshold)
      .select(col(cIdCol), col("__bid"), col("cosine")).distinct()
      .groupBy(col(cIdCol))
      .agg(count(lit(1)).as("n_benchmark_matches"),
        max(col("cosine")).as("max_cosine"))
    corpus.select(col(cIdCol)).join(hits, Seq(cIdCol), "left")
      .select(col(cIdCol),
        coalesce(col("n_benchmark_matches"), lit(0L))
          .as("n_benchmark_matches"),
        col("max_cosine"),
        (coalesce(col("n_benchmark_matches"), lit(0L)) > 0L)
          .as("is_contaminated"))
  }

  /** Flag corpus documents sharing ≥ minMatches distinct word n-grams
    * with a held-out benchmark set — the standard train/eval
    * decontamination pass (eval questions quoted verbatim in web text
    * leak the benchmark into training data).
    *
    * Scale shape: both sides explode to (id, xxhash64(gram)) — 16
    * bytes/gram through the shuffle, never the gram text — the
    * benchmark side is distinct-ed (and typically small enough that
    * AQE broadcasts it), and the join output is immediately re-
    * aggregated to per-doc counts. Distinct-gram semantics (not
    * occurrence counts) make the result insensitive to repetition
    * inside a document. A 64-bit hash collision could miscount; at
    * corpus scale the expected collision count is n²/2⁶⁵ — for 10¹²
    * distinct grams that is ~27 grams total, which cannot flip a
    * ≥ minMatches threshold decision measurably.
    *
    * Returns every corpus row's id with (n_contaminated_grams: long,
    * is_contaminated: boolean). */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int,
      minMatches: Int): DataFrame = {
    val bgrams = bench
      .select(explode(wordNgrams(col(benchTextCol), n)).as("gram"))
      .distinct()
      .select(xxhash64(col("gram")).as("gram_hash"))
    val cgrams = corpus.select(col(idCol),
        explode(array_distinct(wordNgrams(col(textCol), n))).as("gram"))
      .select(col(idCol), xxhash64(col("gram")).as("gram_hash"))
    val hits = cgrams.join(bgrams, Seq("gram_hash"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_contaminated_grams"))
    corpus.select(col(idCol)).join(hits, Seq(idCol), "left")
      .na.fill(0L, Seq("n_contaminated_grams"))
      .withColumn("is_contaminated",
        col("n_contaminated_grams") >= minMatches)
  }

  // -------------------------------------------------------------------
  // DSIR importance weights (target-distribution data selection)
  // -------------------------------------------------------------------

  /** Hashed n-gram feature buckets of one document: lowercased unigrams
    * + bigrams (the DSIR paper's feature space), each hashed into
    * `buckets` cells via the md5-portable bucket hash (the
    * [[graft.ops.CountMin]] discipline — DuckDB recomputes the same
    * cell from the same hex prefix, so the whole weight path is
    * oracle-replayable). Returns array<long> of bucket ids, one per
    * feature OCCURRENCE (counts matter — bag-of-ngrams, not a set). */
  def ngramBuckets(text: Column, buckets: Int): Column = {
    require(buckets > 0, s"ngramBuckets: buckets must be positive")
    val feats = concat(wordNgrams(text, 1), wordNgrams(text, 2))
    transform(filter(feats, f => f =!= ""),
      f => pmod(conv(substring(md5(f), 1, 15), 16, 10).cast("long"),
        lit(buckets.toLong)))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169 —
    * public literature; no reference-repo counterpart): score every raw
    * document by how target-like it is under hashed-n-gram bag-of-words
    * language models,
    *
    *   w(doc) = Σ_f n_f(doc) · (ln p̂_target(f) − ln p̂_raw(f))
    *
    * with add-1 smoothing over the `buckets`-cell hashed feature space
    * (p̂(b) = (count(b)+1)/(N+buckets)). High weight = looks like the
    * target distribution (curated corpus, reference domain), low =
    * looks like generic raw text; downstream selection is top-k or
    * weighted sampling over the weight column ([[weightedSample]]).
    *
    * Scale shape: the target pass and ONE featurization pass over raw
    * (cached as narrow (id, bucket) pairs, never the text) produce two
    * ≤`buckets`-row count tables; the per-bucket log-ratio table is
    * built over a `range(buckets)` spine (so unseen buckets carry their
    * smoothed value — no per-row special case) and BROADCAST into the
    * scoring join. Per-bucket ratios are rounded to integer MICROS
    * before the per-document sum, so the sum is exact integer
    * arithmetic — partition-order- and engine-independent (ulp
    * differences in ln are absorbed by the rounding; the
    * [[graft.operators.TextAnalysis.bm25TopK]] determinism argument).
    *
    * Returns (idCol, n_feats: long, weight: double) for every raw row;
    * featureless docs (null/blank text) score 0.0. */
  def dsirWeights(raw: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String, buckets: Int = 4096)(
      implicit scope: graft.CacheScope): DataFrame = {
    // narrow (id, bucket) occurrence pairs — 16 bytes/feature through
    // the explode; the raw side feeds BOTH the raw count table and the
    // scoring join, so it is cached (the t7 tf-frame precedent). At
    // corpus scale the cache spills but stays payload-free.
    val rawFeats = scope.cache(raw.select(col(idCol),
      explode(ngramBuckets(col(textCol), buckets)).as("b")))
    scoreAgainstCounts(raw, idCol, rawFeats,
      ngramBucketCounts(target, targetTextCol, buckets),
      rawFeats.groupBy(col("b")).agg(count(lit(1)).as("ct")), buckets)
  }

  /** The hashed-n-gram bucket count table of one corpus: (b, ct),
    * ≤ `buckets` rows. This IS the DSIR language-model state — additive
    * under [[foldBucketCounts]], so a streamed corpus maintains it at
    * O(delta)/batch ([[graft.streaming.StreamingSummary
    * .maintainNgramCountsFromFiles]]) and the maintained table is
    * bit-identical to the one-pass count of everything ever seen. */
  def ngramBucketCounts(df: DataFrame, textCol: String,
      buckets: Int): DataFrame =
    df.select(explode(ngramBuckets(col(textCol), buckets)).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))

  /** Merge two bucket count tables — pure SUM, associative and
    * commutative, so incremental folds equal the one-shot count. */
  def foldBucketCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("b")).agg(sum(col("ct")).as("ct"))

  /** Score docs against PRECOMPUTED target/raw bucket-count tables —
    * the incremental path: counts maintained elsewhere (streaming, a
    * persisted state, a fold of batch counts), scoring O(docs) per
    * call. Identical math to [[dsirWeights]] (which delegates here);
    * because the counts are additive integers, scoring against folded
    * batch counts is bit-identical to the one-shot weights. */
  def dsirWeightsFromCounts(raw: DataFrame, idCol: String,
      textCol: String, tgtCounts: DataFrame, rawCounts: DataFrame,
      buckets: Int)(implicit scope: graft.CacheScope): DataFrame = {
    val rawFeats = scope.cache(raw.select(col(idCol),
      explode(ngramBuckets(col(textCol), buckets)).as("b")))
    scoreAgainstCounts(raw, idCol, rawFeats, tgtCounts, rawCounts, buckets)
  }

  private def scoreAgainstCounts(raw: DataFrame, idCol: String,
      rawFeats: DataFrame, tgtCounts: DataFrame, rawCounts: DataFrame,
      buckets: Int): DataFrame = {
    val spark = raw.sparkSession
    val b = buckets.toLong
    val tc = tgtCounts.select(col("b"), col("ct").cast("long").as("t_ct"))
    val rc = rawCounts.select(col("b"), col("ct").cast("long").as("r_ct"))
    // totals as 1-row frames; crossJoin(broadcast) keeps them literal-like
    val totals = broadcast(
      tc.agg(coalesce(sum(col("t_ct")), lit(0L)).as("t_n"))
        .crossJoin(rc.agg(coalesce(sum(col("r_ct")), lit(0L)).as("r_n"))))
    // full bucket spine: every cell 0..buckets-1 gets its smoothed
    // log-ratio, so the scoring join never misses
    val ratios = broadcast(spark.range(b).select(col("id").as("b"))
      .join(tc, Seq("b"), "left")
      .join(rc, Seq("b"), "left")
      .crossJoin(totals)
      .select(col("b"),
        round((log((coalesce(col("t_ct"), lit(0L)) + lit(1.0))
            / (col("t_n") + lit(b.toDouble)))
          - log((coalesce(col("r_ct"), lit(0L)) + lit(1.0))
            / (col("r_n") + lit(b.toDouble)))) * lit(1e6))
          .cast("long").as("lr_micros")))
    val scored = rawFeats.join(ratios, Seq("b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"),
        sum(col("lr_micros")).as("w_micros"))
    raw.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        (coalesce(col("w_micros"), lit(0L)) / lit(1e6)).as("weight"))
  }

  // ---- span corruption (T5-style denoising example construction) ---------

  /** T5/UL2-family span-corruption example construction (Raffel et al.
    * 2020, arXiv:1910.10683 §3.1.4: replace contiguous token spans
    * with sentinel ids; inputs keep one sentinel per span, targets
    * carry sentinel + the masked tokens) — the step that turns clean
    * token sequences into denoising training pairs. The reference ETL
    * has nothing comparable; engine-own LLM-pipeline capability.
    *
    * Deterministic variant of the published sampler: the sequence
    * splits into FULL windows of `window` tokens; each window masks
    * exactly one `span`-token run at an md5-drawn offset (one 32-bit
    * draw per (seed, id, window) — rerun-, engine-, and
    * partitioning-stable, the [[hashDraw]] discipline). Mask density
    * is span/window by construction (defaults 3/20 = T5's 15%), spans
    * never overlap or cross windows, and the ragged tail past the last
    * full window stays unmasked. Span k's sentinel id is
    * `sentinelBase + k` (caller guarantees sentinelBase > every real
    * token id — T5's vocab-top convention); targets are the
    * concatenation over spans of sentinel + masked tokens, so
    * interleaving inputs and targets reconstructs the original
    * sequence exactly (spec-pinned).
    *
    * Map-only at any scale: per-row array expressions, no shuffle, no
    * UDF — at 100 TB this runs at parquet-read speed. */
  def spanCorrupt(df: DataFrame, idCol: String, tokCol: String,
      window: Int = 20, span: Int = 3, sentinelBase: Long = 100000L,
      seed: String = "t5", validateIds: Boolean = false): DataFrame = {
    require(span >= 1, s"spanCorrupt: span must be >= 1, got $span")
    require(window >= span,
      s"spanCorrupt: window ($window) must be >= span ($span)")
    require(sentinelBase >= 0,
      s"spanCorrupt: sentinelBase must be >= 0, got $sentinelBase")
    val id = col(idCol)
    val toks = coalesce(col(tokCol), array().cast("array<long>"))
    val n = size(toks)
    // the sentinelBase contract (must exceed every real token id) is
    // otherwise documentation-only: a violating corpus would silently
    // produce pairs where real tokens are indistinguishable from
    // sentinels. validateIds turns it into a per-row loud failure.
    // The guard is a TOP-LEVEL when(exists…) attached to n_tok AND to
    // the inputs/targets columns (so Catalyst column pruning cannot
    // elide the check when a consumer projects n_tok away) — each
    // attachment is one O(n) exists per row. It must NOT wrap `toks`
    // itself: the per-POSITION element_at walk would re-run the
    // exists() at every array reference inside the HOF lambdas
    // (never subexpression-eliminated), turning one O(n) check into
    // O(n²) per row (measured 20 s vs 0.5 s on the cu21 gate).
    val idsOk = when(exists(toks, t => t.cast("long") >= sentinelBase),
      raise_error(concat(
        lit(s"spanCorrupt: token id >= sentinelBase ($sentinelBase) "),
        lit("in row "), id.cast("string"),
        lit(" — sentinels would collide with real tokens; raise " +
          "sentinelBase above the vocabulary"))).cast("boolean"))
      .otherwise(lit(true))
    def guarded(c: Column): Column =
      if (!validateIds) c else when(idsOk, c)
    val nTokOut = guarded(n)
    val nWin = (n / window).cast("int")
    // one draw per full window: offset ∈ [0, window - span]
    def off(j: Column): Column = pmod(
      hashDraw(concat_ws("|", lit(seed), id.cast("string"),
        j.cast("string"))),
      lit((window - span + 1).toLong)).cast("int")
    // empty-safe position walk (sequence(0, -1) DESCENDS — guard it)
    val emptyLongs = array().cast("array<bigint>")
    val positions = when(n > 0, sequence(lit(0), n - 1))
      .otherwise(array().cast("array<int>"))
    val windows = when(nWin > 0, sequence(lit(0), nWin - 1))
      .otherwise(array().cast("array<int>"))
    // ONE md5 draw per window, bound as DATA: higher-order lambdas are
    // not subexpression-eliminated, so an off(j) written inline in the
    // per-POSITION transform re-hashes per token (measured 235.6 s for
    // the 516M-token end-to-end pass); binding the per-window offset
    // array once and indexing it makes the position walk pure data
    // access
    val offsArr = when(nWin > 0,
      transform(sequence(lit(0), nWin - 1), j => off(j)))
      .otherwise(array().cast("array<int>"))
    def outputs(offs: Column): Column = {
      // per position: 0 = keep, 1 = span start (sentinel), 2 = drop
      val marked = transform(positions, p => {
        val j = (p / window).cast("int")
        val rel = p % window
        val o = when(j < nWin, element_at(offs, j + 1))
          .otherwise(lit(-1))
        struct(
          when(o >= 0 && rel >= o && rel < o + span,
            when(rel === o, lit(1)).otherwise(lit(2)))
            .otherwise(lit(0)).as("m"),
          element_at(toks, p + 1).cast("long").as("t"),
          j.as("j"))
      })
      val inputs = transform(
        filter(marked, x => x.getField("m") =!= 2),
        x => when(x.getField("m") === 1,
          lit(sentinelBase) + x.getField("j"))
          .otherwise(x.getField("t")))
      val targets = flatten(transform(windows, j =>
        concat(array(lit(sentinelBase) + j.cast("long")),
          transform(slice(toks,
            j * window + element_at(offs, j + 1) + 1, lit(span)),
            t => t.cast("long")))))
      struct(coalesce(inputs, emptyLongs).as("i"),
        coalesce(targets, emptyLongs).as("t"))
    }
    val both = graft.operators.TextAnalysis.bindOnce(offsArr)(outputs)
    // The two getField projections re-evaluate `both` once each (2×
    // the walks) — measured as the best available shape: emitting the
    // struct through inline(array(both)) evaluates ONCE but moves the
    // interpreted HOF chain into a Generate, measured 16× SLOWER
    // (106 s vs 19 s at 114M tokens); and a staged __offs column would
    // be CollapseProject-inlined back into the lambdas per POSITION.
    // 2× of a data-access walk is the cheapest evil.
    df.select(id,
      nTokOut.as("n_tok"),
      nWin.as("n_spans"),
      (nWin * span).as("n_masked"),
      guarded(both.getField("i")).as("inputs"),
      guarded(both.getField("t")).as("targets"))
  }
}
