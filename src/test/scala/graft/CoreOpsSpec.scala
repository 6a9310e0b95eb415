package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Exp, Jnr, Rnk}
import graft.schema.SchemaOps
import graft.validate.{DuplicateException, Validator}

class ValidatorSpec extends SparkSpec {
  import spark.implicits._

  test("requireUnique passes on unique keys") {
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    assert(Validator.requireUnique(df, Seq("k")) == 2) // row count, no throw
  }

  test("requireUnique throws DuplicateException on duplicate keys") {
    val df = Seq((7, "a"), (7, "b"), (2, "c")).toDF("k", "v")
    val e = intercept[DuplicateException](Validator.requireUnique(df, Seq("k")))
    assert(e.getMessage.contains("k"))
    assert(e.getMessage.contains("[7,2]"), e.getMessage) // the violating key and its count
  }

  test("duplicateKeys reports only violating keys with counts") {
    val df = Seq((1, "a"), (1, "b"), (2, "c")).toDF("k", "v")
    val dups = Validator.duplicateKeys(df, Seq("k")).collect()
    assert(dups.map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((1, 2L)))
  }

  test("requireNonEmpty rejects empty input") {
    val e = intercept[IllegalStateException](Validator.requireNonEmpty(0L, "x"))
    assert(e.getMessage == "empty input: x")
    Validator.requireNonEmpty(1L, "x") // a non-zero count passes
  }
}

class SchemaOpsSpec extends SparkSpec {
  import spark.implicits._

  private val contract = StructType(Seq(
    StructField("SALE_ID", LongType), StructField("AMOUNT", DoubleType)))

  test("normalizeColumns trims/uppercases/underscores headers") {
    val df = Seq((1, 2)).toDF(" sale id ", "Amount")
    assert(SchemaOps.normalizeColumns(df).columns.toSeq == Seq("SALE_ID", "AMOUNT"))
  }

  test("conformByName maps by normalized name, casts, nulls missing, drops extra") {
    val df = Seq(("7", "insecticide", 1.5)).toDF("sale id", "extra", "junk")
    val out = SchemaOps.conformByName(df, contract)
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      contract.map(f => (f.name, f.dataType)))
    val r = out.collect()(0)
    assert(r.getLong(0) == 7L && r.isNullAt(1))
  }

  test("conformPositional takes columns in order") {
    val df = Seq(("3", "9.5", "zzz")).toDF("a", "b", "c")
    val r = SchemaOps.conformPositional(df, contract).collect()(0)
    assert(r.getLong(0) == 3L && r.getDouble(1) == 9.5)
  }

  test("drift reports missing, added, and type-changed columns") {
    val df = Seq((1.5, "x")).toDF("amount", "surprise")
    val rep = SchemaOps.drift(df, contract)
    assert(rep.missing == Seq("SALE_ID") && rep.added == Seq("surprise"))
    assert(!rep.isClean && rep.typeChanged.isEmpty)
  }

  test("drift flags a type change without failing the load") {
    val df = Seq((7L, "oops")).toDF("sale_id", "amount") // amount arrives string
    val rep = SchemaOps.drift(df, contract)
    assert(rep.typeChanged == Seq(("AMOUNT", "double", "string")))
    assert(rep.missing.isEmpty && rep.added.isEmpty && !rep.isClean)
  }
}

class ExpSpec extends SparkSpec {
  import spark.implicits._

  test("tier: value exactly at gold boundary is SILVER (between is inclusive)") {
    val df = Seq(10.0, 50.0, 100.0, 100.5, 9.9).toDF("x")
      .select(col("x"), Exp.tier(col("x"), 10.0, 100.0).as("t"))
    val m = df.collect().map(r => r.getDouble(0) -> r.getString(1)).toMap
    assert(m(10.0) == "SILVER" && m(50.0) == "SILVER" && m(100.0) == "SILVER")
    assert(m(100.5) == "GOLD" && m(9.9) == "BRONZE")
  }

  test("classify fires cases in order") {
    val c = Exp.classify(Seq(
      (col("x") < 10, "LOW"), (col("x") < 100, "MID")), "HIGH")
    val m = Seq(5, 50, 500).toDF("x").select(col("x"), c.as("c"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(m(5) == "LOW" && m(50) == "MID" && m(500) == "HIGH")
  }

  test("patchNulls fills only nulls") {
    val df = Seq((Some(1.0), "a"), (None, "b")).toDF("v", "k")
    val out = Exp.patchNulls(df, Map("v" -> 9.9)).collect()
      .map(r => r.getString(1) -> r.getDouble(0)).toMap
    assert(out("a") == 1.0 && out("b") == 9.9)
  }

  test("revenue is exact decimal: sum identical across partition layouts") {
    val df = Seq.tabulate(1000)(i => (i * 1.000001, 0.05)).toDF("price", "disc")
    def total(parts: Int) =
      df.repartition(parts).select(Exp.revenue(col("price"), col("disc")).as("r"))
        .agg(sum("r")).collect()(0).getDecimal(0)
    // a double sum would differ across merge orders; decimal must not
    assert(total(1) == total(32))
  }
}

class JnrSpec extends SparkSpec {
  import spark.implicits._

  test("trimJoin matches padded keys") {
    val l = Seq((" a1 ", 1), ("b2", 2)).toDF("k", "lv")
    val r = Seq(("a1", 10), (" b2", 20)).toDF("rk", "rv")
    val out = Jnr.trimJoin(l, r, "k", "rk").select("lv", "rv").collect()
      .map(x => (x.getInt(0), x.getInt(1))).toSet
    assert(out == Set((1, 10), (2, 20)))
  }

  test("flagJoin marks membership as string true/false") {
    val detail = Seq("p1", "p2", "p3").toDF("name")
    val flags = Seq("p2").toDF("top")
    val out = Jnr.flagJoin(detail, flags, "name", "top", "is_top").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("p1" -> "false", "p2" -> "true", "p3" -> "false"))
  }

  test("antiByKey and semiByKey partition the keyspace") {
    val src = Seq(1, 2, 3).toDF("k")
    val tgt = Seq(2, 3, 4).toDF("k")
    assert(Jnr.antiByKey(src, tgt, Seq("k")).collect().map(_.getInt(0)).toSet == Set(1))
    assert(Jnr.semiByKey(src, tgt, Seq("k")).collect().map(_.getInt(0)).toSet == Set(2, 3))
  }
}

class RnkSpec extends SparkSpec {
  import spark.implicits._

  test("topKPerGroup breaks ties deterministically by tiebreak column") {
    val df = Seq(("g", 5.0, "z"), ("g", 5.0, "a"), ("g", 1.0, "b"),
                 ("h", 2.0, "q")).toDF("grp", "score", "id")
    val top = Rnk.topKPerGroup(df, Seq("grp"), col("score"), Seq(col("id")))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(top == Map("g" -> "a", "h" -> "q")) // tie at 5.0 -> lowest id wins
  }

  test("Spread: repartitions under-split frames, leaves split ones alone") {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    val narrow = (1 to 1000).toDF("x").coalesce(1)
    val spreadUp = graft.core.Spread(narrow)
    assert(spreadUp.rdd.getNumPartitions == cores)
    // content is only rearranged, never changed
    assert(spreadUp.as[Int].collect().sorted.toSeq == (1 to 1000))
    val wide = (1 to 1000).toDF("x").repartition(cores + 3)
    // already at/above core count: returned AS IS (no exchange inserted)
    assert(graft.core.Spread(wide) eq wide)
  }
}
