package graft

import graft.ops._
import graft.schema.{LogicalCol, SchemaMapper}
import graft.functions.Cleansing
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, DecimalType}

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("SchemaMapper: alias resolution, null injection, coerce cast, width") {
    val raw = Seq(("1", "2024-01-05", "₹1,200.50", "padded name here"))
      .toDF(" sales_id ", "TRANSACTION_DATE", "Unit_Price", "NAME")
    val cols = Seq(
      LogicalCol("SALES_ID", targetType = Some(IntegerType)),
      LogicalCol("FULL_DATE",
        aliases = Seq("SALE_DATE", "TRANSACTION_DATE", "DATE"),
        clean = Some(c => Cleansing.parseDateMulti(c).cast("string"))),
      LogicalCol("UNIT_PRICE", clean = Some(Cleansing.cleanNumeric),
        targetType = Some(DecimalType(12, 2))),
      LogicalCol("STORE_NAME", aliases = Seq("NAME"), width = Some(6)),
      LogicalCol("OPTIONAL_COL", required = false))
    val out = SchemaMapper(raw, cols).collect().head
    assert(out.getInt(0) === 1)
    assert(out.getString(1) === "2024-01-05")
    assert(out.getDecimal(2).toString === "1200.50")
    assert(out.getString(3) === "padded")
    assert(out.isNullAt(4))
  }

  test("SchemaMapper: missing required column fails fast with names") {
    val raw = Seq(("x")).toDF("other")
    val e = intercept[IllegalArgumentException] {
      SchemaMapper(raw, Seq(LogicalCol("NEEDED")))
    }
    assert(e.getMessage.contains("NEEDED"))
  }

  test("DimResolver: normalized-key lookup with fallback and misses") {
    val dim = Seq((1L, "Alpha", "BrandX", 10),
      (2L, "Alpha", "BrandY", 20), (3L, "Beta", "BrandZ", 30))
      .toDF("key", "name", "brand", "ord")
    val facts = Seq(
      ("  alpha ", "brandx"),  // exact (normalized) hit -> 1
      ("alpha", "nope"),       // fallback by name, first-seen by ord -> 1
      ("beta", null),          // fallback -> 3
      ("gamma", "b"))          // miss -> null
      .toDF("f_name", "f_brand")
    val resolved = DimResolver.resolveDimKeys(facts, Seq(DimLookup(
      dim, Seq("f_name", "f_brand"), Seq("name", "brand"), "key", "dim_key",
      fallback = Some(("f_name", "name", "ord")))))
    val got = resolved.orderBy("f_name", "f_brand")
      .select("dim_key").collect().map(r =>
        if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    // rows ordered: (alpha,brandx-spaced)... orderBy f_name: "  alpha ",
    // "alpha", "beta", "gamma"
    assert(got === Seq(Some(1L), Some(1L), Some(3L), None))
  }

  test("ChangeClassifier: insert/update/unchanged with tolerance") {
    val existing = Seq((1L, "a", 10.00), (2L, "b", 20.00), (3L, "c", 30.00))
      .toDF("bk", "name", "price")
    val incoming = Seq(
      (1L, "a", 10.005),  // within tolerance -> unchanged
      (2L, "b2", 20.00),  // string change -> UPDATE
      (3L, "c", 31.00),   // numeric change -> UPDATE
      (4L, "d", 40.00))   // new -> INSERT
      .toDF("bk", "name", "price")
    val out = ChangeClassifier.classifyChanges(incoming, existing,
      Seq("bk"), Seq(TrackedCol("name"), TrackedCol("price", Some(0.01))))
    val got = out.orderBy("bk").select("bk", "operation").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((2L, "UPDATE"), (3L, "UPDATE"), (4L, "INSERT")))
  }

  test("SurrogateKeys: sequential is gap-free from max; contiguous too") {
    val df = Seq("c", "a", "b").toDF("v")
    val seq1 = SurrogateKeys.assignSequential(df, "k", 100L, Seq(col("v")))
      .orderBy("v").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(seq1 === Seq(("a", 101L), ("b", 102L), ("c", 103L)))

    val big = spark.range(0, 1000).toDF("id").repartition(7)
    val keyed = SurrogateKeys.assignContiguous(big, "k", 500L)
    val keys = keyed.select("k").as[Long].collect().sorted
    assert(keys.toSeq === (501L to 1500L))
  }

  test("MergeInto: matched update, unmatched insert, op guard") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("bk", "name", "price")
    val staged = Seq(
      (2L, "b2", 21.0, "UPDATE"),   // matched + UPDATE -> updated
      (3L, "c2", 31.0, "INSERT"),   // matched + INSERT -> guard: unchanged
      (4L, "d", 40.0, "INSERT"),    // unmatched + INSERT -> inserted
      (5L, "e", 50.0, "UPDATE"))    // unmatched + UPDATE -> dropped
      .toDF("bk", "name", "price", "operation")
    val merged = MergeInto.mergeInto(target, staged, Seq("bk"),
      Seq("name", "price"), "operation")
    val got = merged.orderBy("bk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, "a", 10.0), (2L, "b2", 21.0), (3L, "c", 30.0),
      (4L, "d", 40.0)))
  }

  test("MergeInto: null-safe keys keep and update a null-key target row") {
    val target = Seq((Some(1L), "a"), (None, "n")).toDF("bk", "name")
    def merged(staged: Seq[(Option[Long], String, String)]) =
      MergeInto.mergeInto(target, staged.toDF("bk", "name", "operation"),
        Seq("bk"), Seq("name"), "operation").as[(Option[Long], String)]
        .collect().toSet
    // an unrelated INSERT leaves the null-key row in place
    assert(merged(Seq((Some(2L), "b", "INSERT"))) ===
      Set((Some(1L), "a"), (None, "n"), (Some(2L), "b")))
    // <=> matches the null key, so the guarded UPDATE applies
    assert(merged(Seq((None, "n2", "UPDATE"))) ===
      Set((Some(1L), "a"), (None, "n2")))
  }

  test("MergeInto is idempotent (re-running same staging is a no-op)") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0))
      .toDF("bk", "name", "price")
    val staged = Seq((2L, "b2", 21.0, "UPDATE"), (3L, "c", 30.0, "INSERT"))
      .toDF("bk", "name", "price", "operation")
    val once = MergeInto.mergeInto(target, staged, Seq("bk"),
      Seq("name", "price"), "operation")
    val twice = MergeInto.mergeInto(once, staged, Seq("bk"),
      Seq("name", "price"), "operation")
    assert(twice.orderBy("bk").collect().toSeq ===
      once.orderBy("bk").collect().toSeq)
  }

  test("Dedupe: keep-first and keep-last by explicit order") {
    val df = Seq((1L, 1, "first"), (1L, 2, "second"), (2L, 5, "only"))
      .toDF("bk", "ord", "v")
    val first = Dedupe.dedupeByKey(df, Seq("bk"), Seq(col("ord")))
      .orderBy("bk").select("v").as[String].collect().toSeq
    assert(first === Seq("first", "only"))
    val last = Dedupe.dedupeByKey(df, Seq("bk"), Seq(col("ord").desc))
      .orderBy("bk").select("v").as[String].collect().toSeq
    assert(last === Seq("second", "only"))
  }

  test("LookupDim.upsert: new values keyed from max+1, existing untouched") {
    val existing = Seq((1L, "Grocery"), (2L, "Dairy")).toDF("key", "value")
    val incoming = Seq("Dairy", "Beverage", "Beverage", null, "Snacks")
      .toDF("value")
    val (updated, newRows) = LookupDim.upsert(existing, incoming, "value", "key")
    val newGot = newRows.orderBy("key").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(newGot === Seq((3L, "Beverage"), (4L, "Snacks")))
    assert(updated.count() === 4)
  }
}
