package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Cleansing

/** The generic DW-load operators (SURVEY.md §7.1 item 4). Each is a plain
  * DataFrame combinator — no Catalyst extension needed for parity — but
  * every one is written for the 1000-executor case: dim sides broadcast,
  * change predicates stay inside codegen, and the only global barrier
  * (gap-free key assignment) has a scale-path alternative.
  */

// ---------------------------------------------------------------------------
// Dim-key resolution (J2-J5): normalized-key broadcast left joins
// ---------------------------------------------------------------------------

/** One dimension lookup: resolve `factCols` (physical columns on the fact
  * side) against `dim`'s `dimCols` after key normalization on BOTH sides,
  * producing `outCol` = dim's `keyCol`. The reference's in-memory dict
  * probe (load_fact_sales_dw.py:129-154, 213-261) IS a broadcast hash
  * join build side — we say so explicitly.
  */
final case class DimLookup(
    dim: DataFrame,
    factCols: Seq[String],
    dimCols: Seq[String],
    keyCol: String,
    outCol: String,
    /** Optional name-only fallback (J3): fact col + dim col + "first wins"
      * ordering column on the dim side. */
    fallback: Option[(String, String, String)] = None)

object DimResolver {

  private def norm(c: Column): Column = Cleansing.normalizeKey(c)

  /** Left-join every lookup in sequence; unresolved keys stay null. The
    * caller counts and drops them (P5): `Pipelines.loadIncoming` counts
    * the misses with an `Observation` on the frame that feeds its
    * checkpointed delta, as the reference counts them in the loop that
    * resolves each row (load_fact_sales_dw.py:263-277). Dims are
    * broadcast: at 100 TB the fact side never shuffles for dimension
    * resolution. */
  def resolveDimKeys(facts: DataFrame, lookups: Seq[DimLookup]): DataFrame =
    lookups.foldLeft(facts) { (df, lk) =>
      // one dim row per normalized key (dict semantics: last put wins in
      // python; we keep MIN key for determinism — documented deviation)
      val exact = lookup(df, lk, lk.keyCol)
      lk.fallback.fold(exact) { case (factNameCol, dimNameCol, ordCol) =>
        // J3: name-only map populated with the FIRST-seen key by ordCol
        lookup(exact, lk.copy(factCols = Seq(factNameCol),
            dimCols = Seq(dimNameCol), outCol = "__fb"), ordCol)
          .withColumn(lk.outCol, coalesce(col(lk.outCol), col("__fb")))
          .drop("__fb")
      }
    }

  /** `df` left-joined to `lk.dim` on the normalized keys, adding
    * `lk.outCol` = the `keyCol` of the matching dim row lowest in
    * `ordCol`. The build side groups inside the dim's one partition: a
    * broadcast side is gathered to one place anyway, so the aggregate
    * needs no exchange. */
  private def lookup(df: DataFrame, lk: DimLookup,
      ordCol: String): DataFrame = {
    val keys = lk.dimCols.indices.map(i => s"__dk$i")
    val side = lk.dim.coalesce(1)
      .groupBy(lk.dimCols.zip(keys).map { case (c, k) =>
        norm(col(c)).as(k) }: _*)
      .agg(min_by(col(lk.keyCol), col(ordCol)).as(lk.outCol))
    df.join(broadcast(side), lk.factCols.zip(keys).map { case (c, k) =>
        norm(df(c)) === side(k) }.reduce(_ && _), "left")
      .drop(keys: _*)
  }
}

// ---------------------------------------------------------------------------
// Change classification (J6/J7): INSERT vs UPDATE vs unchanged
// ---------------------------------------------------------------------------

final case class TrackedCol(name: String, tolerance: Option[Double] = None)

object ChangeClassifier {

  /** Null-safe per-column change predicate over aliased sides: numeric
    * with tolerance (|a-b| > tol, F23), strings ''-coalesced. */
  private def changePredicate(tracked: Seq[TrackedCol], inA: String,
      exA: String): Column =
    tracked.map { tc =>
      val a = col(s"$inA.${tc.name}")
      val b = col(s"$exA.${tc.name}")
      tc.tolerance match {
        case Some(tol) => Cleansing.numericChanged(a, b, tol)
        case None      => Cleansing.stringChanged(a, b)
      }
    }.reduce(_ || _)

  /** Classify `incoming` vs `existing` on business key `bk`: one left
    * join with a presence marker on the existing side, as
    * [[MergeInto.merge]] does. An unmatched row is an INSERT, a matched
    * one where any tracked attribute changed an UPDATE, and the rest
    * drop. Returns incoming's columns + an `operation` tag (O4). Matches
    * load_dim_product_dw.py:500-552 and clones. Sides are aliased so
    * incoming/existing may share lineage (self-join safe).
    *
    * Scale: one shuffle of each side on bk (sort-merge); when `existing`
    * is a dimension (small), Spark's AQE broadcasts it automatically.
    *
    * `nullSafeKeys` (default true) matches the reference's pandas-dict
    * probe, where None components of a composite key DO match (product bk
    * includes nullable `size`). Pass false when every bk column is
    * provably non-null (e.g. the fact's concat-built natural_key): plain
    * `===` is Oracle's `MERGE ON` equality, and Catalyst rewrites `<=>`
    * joins to hash on `coalesce(k,''),isnull(k)`.
    */
  def classifyChanges(incoming: DataFrame, existing: DataFrame,
      bk: Seq[String], tracked: Seq[TrackedCol],
      nullSafeKeys: Boolean = true): DataFrame = {
    val in2 = incoming.alias("__in")
    val ex2 = existing.withColumn("__ex_present", lit(true)).alias("__ex")
    val joinCond = bk.map { k =>
      if (nullSafeKeys) col(s"__in.$k") <=> col(s"__ex.$k")
      else col(s"__in.$k") === col(s"__ex.$k")
    }.reduce(_ && _)
    val matched = col("__ex.__ex_present").isNotNull
    in2.join(ex2, joinCond, "left")
      .filter(!matched || changePredicate(tracked, "__in", "__ex"))
      .select(incoming.columns.map(c => col(s"__in.$c")).toIndexedSeq :+
        when(matched, lit("UPDATE")).otherwise(lit("INSERT"))
          .as("operation"): _*)
  }
}

// ---------------------------------------------------------------------------
// Surrogate keys (W1)
// ---------------------------------------------------------------------------

object SurrogateKeys {

  /** Gap-free sequential keys: maxKey + global rank over a stable total
    * order — SAME semantics as `row_number().over(Window.orderBy(ord))`,
    * executed scalably: range-repartition on the order columns, sort
    * within partitions, then [[numbered]]. No single-reducer WindowExec
    * anywhere: the old unpartitioned-window form funneled every row
    * through one task, the silent scale cliff SURVEY §7.4 risk 1 warns
    * about (the window form shuffled too). Cost: one range shuffle, its
    * partitioner's sampling job and `zipWithIndex`'s count job.
    * Keys are contiguous maxKey+1..maxKey+N in `ord` order (ties ranked
    * arbitrarily but counted once, exactly like row_number). */
  def assignSequential(newRows: DataFrame, keyCol: String, maxKey: Long,
      ord: Seq[Column]): DataFrame = {
    require(ord.nonEmpty, "assignSequential needs a total order; " +
      "use assignContiguous for order-free contiguous keys")
    numbered(newRows.repartitionByRange(ord: _*)
      .sortWithinPartitions(ord: _*), keyCol, maxKey)
  }

  /** Scale path: contiguous (gap-free) but order-free keys in the rows'
    * partition order — no global sort, no single reducer. The reference
    * only needs max+1 density, not a particular order (SURVEY §7.4
    * risk 1). */
  def assignContiguous(newRows: DataFrame, keyCol: String,
      maxKey: Long): DataFrame = numbered(newRows, keyCol, maxKey)

  /** `rows` plus `keyCol` = maxKey+1.. in partition order, then row order
    * within each partition: `zipWithIndex` (one per-partition count job,
    * offsets, then the numbering pass). */
  private def numbered(rows: DataFrame, keyCol: String,
      maxKey: Long): DataFrame = {
    val withKeys = rows.rdd.zipWithIndex().map { case (row, idx) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (maxKey + idx + 1L))
    }
    rows.sparkSession.createDataFrame(withKeys,
      rows.schema.add(keyCol, "long"))
  }

  /** Read the current max key (A1: NVL(MAX(id),0)). */
  def currentMax(df: DataFrame, keyCol: String): Long =
    df.agg(coalesce(max(col(keyCol)), lit(0L)).cast("long")).collect()(0)
      .getLong(0)
}

// ---------------------------------------------------------------------------
// Merge upsert (J8): the one genuinely custom operator
// ---------------------------------------------------------------------------

object MergeInto {

  /** One WHEN action of a MERGE. Conditions and values are Columns over
    * the target and source aliases; `None` values mean `SET *` /
    * `INSERT *`. Assignments match target columns case-insensitively. */
  sealed trait Clause { def condition: Option[Column] }
  final case class Update(condition: Option[Column] = None,
      set: Option[Seq[(String, Column)]] = None) extends Clause
  final case class Delete(condition: Option[Column] = None) extends Clause
  final case class Insert(condition: Option[Column] = None,
      values: Option[Seq[(String, Column)]] = None) extends Clause

  /** The one MERGE planner, shared by [[mergeInto]] and SQL `MERGE INTO`
    * ([[graft.sql.GraftMergeCommand]]): a full-outer join on `on`, with
    * presence markers telling matched, target-only and source-only rows
    * apart (a null key cannot). Within each WHEN group the first clause
    * whose condition holds fires; no clause firing keeps a matched or
    * target-only row and drops a source-only one. Every output column is
    * cast to the target's type.
    *
    * The result must be atomically swapped in by the caller (overwrite a
    * parquet/table location) — same re-runnability contract as the
    * reference's staging + MERGE + commit. Scale: one shuffle of both
    * sides on the key (sort-merge); AQE handles source-side skew. As with
    * SQL MERGE, the source must be unique on the join keys. */
  def merge(target: DataFrame, tAlias: String, source: DataFrame,
      sAlias: String, on: Column, matched: Seq[Clause],
      notMatched: Seq[Clause], bySource: Seq[Clause]): DataFrame = {
    val t = target.withColumn("__t_present", lit(true)).alias(tAlias)
    val s = source.withColumn("__s_present", lit(true)).alias(sAlias)
    val joined = t.join(s, on, "full_outer")

    val tPresent = col(s"$tAlias.__t_present").isNotNull
    val sPresent = col(s"$sAlias.__s_present").isNotNull
    val isMatched = tPresent && sPresent
    val tOnly = tPresent && !sPresent

    // index of the first clause whose condition holds; -1 = none fired
    def firstIdx(clauses: Seq[Clause]): Column =
      clauses.zipWithIndex.foldRight(lit(-1)) { case ((c, i), els) =>
        when(c.condition.getOrElse(lit(true)), lit(i)).otherwise(els)
      }
    val mAct = firstIdx(matched)
    val iAct = firstIdx(notMatched)
    val bAct = firstIdx(bySource)

    def deletes(clauses: Seq[Clause], act: Column): Column = {
      val idxs = clauses.zipWithIndex.collect { case (_: Delete, i) => i }
      if (idxs.isEmpty) lit(false) else act.isin(idxs: _*)
    }
    val dropRow = (isMatched && deletes(matched, mAct)) ||
      (!tPresent && iAct === -1) || (tOnly && deletes(bySource, bAct))

    // per-column value: fold the group into a when-chain keyed by the
    // fired clause (deleted rows are filtered, so any value does)
    def chain(clauses: Seq[Clause], act: Column, c: String,
        default: Column, star: Column): Column = {
      def assigned(kvs: Seq[(String, Column)]): Column =
        kvs.find(_._1.equalsIgnoreCase(c)).map(_._2).getOrElse(default)
      clauses.zipWithIndex.foldRight(default) { case ((cl, i), els) =>
        val v = cl match {
          case Update(_, None) | Insert(_, None) => Some(star)
          case Update(_, Some(kvs)) => Some(assigned(kvs))
          case Insert(_, Some(kvs)) => Some(assigned(kvs))
          case _: Delete => None
        }
        v.fold(els)(when(act === i, _).otherwise(els))
      }
    }

    val outCols = target.schema.fields.map { f =>
      val tCol = col(s"$tAlias.${f.name}")
      val sCol = col(s"$sAlias.${f.name}")
      when(isMatched, chain(matched, mAct, f.name, tCol, sCol))
        .when(tOnly, chain(bySource, bAct, f.name, tCol, tCol))
        .otherwise(chain(notMatched, iAct, f.name, lit(null), sCol))
        .cast(f.dataType).as(f.name)
    }
    joined.filter(!dropRow).select(outCols.toIndexedSeq: _*)
  }

  /** The reference's fact/dim MERGE (load_fact_sales_dw.py:390-418):
    * `WHEN MATCHED AND s.op = 'UPDATE' THEN UPDATE SET updateCols WHEN
    * NOT MATCHED AND s.op = 'INSERT' THEN INSERT *`, on `onKeys`.
    * `nullSafeKeys` (default true) joins with `<=>`, so null key
    * components match as in the reference's pandas-dict probe; false
    * joins with plain `=` like Oracle's `MERGE ON` and keeps Catalyst
    * from hashing on `coalesce`/`isnull`. The unguarded form is SQL
    * `WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`. */
  def mergeInto(target: DataFrame, staged: DataFrame, onKeys: Seq[String],
      updateCols: Seq[String], opCol: String,
      nullSafeKeys: Boolean = true): DataFrame = {
    val on = onKeys.map { k =>
      if (nullSafeKeys) col(s"t.$k") <=> col(s"s.$k")
      else col(s"t.$k") === col(s"s.$k")
    }.reduce(_ && _)
    val op = col(s"s.$opCol")
    merge(target, "t", staged, "s", on,
      matched = Seq(Update(Some(op === "UPDATE"),
        Some(updateCols.map(c => c -> col(s"s.$c"))))),
      notMatched = Seq(Insert(Some(op === "INSERT"))),
      bySource = Nil)
  }
}

// ---------------------------------------------------------------------------
// Dedup on business key (A8) and lookup-dim upsert
// ---------------------------------------------------------------------------

object Dedupe {

  /** Deterministic drop_duplicates(subset=bk, keep=first-by-ord). The
    * pandas original relies on file order (§7.4 risk 3); we require an
    * explicit ordering. keep='last' = pass descending ord columns. */
  def dedupeByKey(df: DataFrame, bk: Seq[String], ord: Seq[Column]): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(bk.map(col): _*).orderBy(ord: _*)))
      .filter(col("__rn") === 1).drop("__rn")
}

object LookupDim {

  /** Snowflake lookup-dim maintenance (load_dim_product_dw.py:428-466,
    * load_dim_store_dw.py:227-258): collect distinct incoming values,
    * anti-join against the existing dim, assign keys from max+1, append.
    * Returns (updatedDim, newRows). */
  def upsert(existing: DataFrame, incoming: DataFrame, valueCol: String,
      keyCol: String): (DataFrame, DataFrame) = {
    val fresh = incoming.select(col(valueCol)).filter(col(valueCol).isNotNull)
      .distinct()
      .join(existing, Seq(valueCol), "left_anti")
    val maxKey = SurrogateKeys.currentMax(existing, keyCol)
    val newRows = SurrogateKeys.assignSequential(
      fresh, keyCol, maxKey, Seq(col(valueCol)))
      .select(col(keyCol), col(valueCol))
    (existing.select(col(keyCol), col(valueCol)).unionByName(newRows), newRows)
  }
}
