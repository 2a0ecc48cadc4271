package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Synthesize a larger scale factor from an existing one by stamping K
  * key-shifted copies (default 10: sf0.1 → sf1) — the scale-rehearsal data
  * generator behind BASELINE_sf1.md / BASELINE_sf10.md.
  *
  * Design constraints, so that timings at the synthetic SF mean something:
  *
  *  - **Referential integrity per copy.** Every foreign key is offset by the
  *    same per-table stride as its primary key, so joins have the same
  *    per-key fan-out as the source data — row counts scale ×K, join output
  *    scales ×K, never ×K². Strides are DERIVED from the source key ranges
  *    (next power of ten above the max), so the generator composes: sf1
  *    output feeds back in as the source for sf10 without key collisions.
  *  - **Constant duplicate ratio.** Documents get a per-copy token suffix
  *    (`w` → `w~i`), making shingle/MinHash/SimHash spaces of different
  *    copies disjoint: the near-dup pair density (pairs/row) stays that of
  *    the source corpus instead of every doc gaining K−1 exact twins, which
  *    would quadratically inflate pair-join output and measure a *harder*
  *    problem than 10× data. Composing decades keeps suffixes distinct
  *    (`w~i~j`), so disjointness survives a second generation.
  *  - **Dims stay dims.** region/nation are not replicated — at any real SF
  *    they are broadcast-side tables.
  *  - **Time axis unchanged.** Timestamps are copied verbatim, so per-window
  *    densities grow ×K — the same thing that happens when a real deployment
  *    ingests K× the devices over the same calendar window.
  *
  * Embedding decorrelation composes across decades: each copy applies a
  * per-copy CYCLIC DIMENSION ROTATION (an isometry — within-copy geometry
  * exactly preserved, cross-copy cosines ~N(0, 1/64)) AND a deterministic
  * per-copy SIGN-FLIP pattern seeded by a per-generation tag. The flip
  * matters at the second decade: rotations alone compose additively, so
  * sf10 copies (i, j) and (i', j') with i+j = i'+j' would share a total
  * shift and every vector would gain exact cross-copy twins — precisely the
  * density artifact the rotation was introduced to avoid (BASELINE_sf1.md).
  * Independent tag-seeded flips break the additive structure while staying
  * isometries.
  *
  * Skew mode (`skew` as the 5th arg) plants controlled hot keys the uniform
  * stamp deliberately avoids, to rehearse Zipfian reality: one shingle
  * ("zq0 zq0 zq0") appended to 30% of documents (df ≈ 0.3·n_docs — a
  * stop-shingle that must be prefix-demoted or DF-capped, never pair-joined)
  * and one part receiving 30% of each copy's lineitems (a hub key that AQE
  * skew-join must split).
  *
  * Usage: runMain graft.ScaleUp <srcDir> <dstDir> [copies] [tables|all] [skew|uniform] [tag]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val tableFilter: Option[Set[String]] =
      if (args.length > 3 && args(3) != "all") Some(args(3).split(",").toSet)
      else None
    val skew = args.length > 4 && args(4) == "skew"
    val tag = if (args.length > 5) args(5) else s"$copies:${skew.toString}"
    val spark = GraftSession.getOrCreate()

    def want(t: String): Boolean = tableFilter.forall(_.contains(t))

    // Stride per key family: the next power of ten ABOVE the source key
    // range, derived from the data so generations compose (sf1 keys exceed
    // the fixed strides that were correct for sf0.1). One tiny max() agg
    // per family — generator-side cost, not operator cost.
    def nextPow10(x: Long): Long = {
      var p = 1L
      while (p <= x) p *= 10
      p
    }
    def strideOf(df: DataFrame, c: String): Long =
      nextPow10(df.agg(max(col(c).cast("long"))).head.getLong(0))

    // Shift a key by i*stride while PRESERVING the source column's type —
    // `col + lit(long)` would silently widen an IntegerType key to LongType,
    // handing the rehearsal different parquet schemas (and thus different
    // join/coercion plans) than real generated data.
    def shifted(df: DataFrame, c: String, stride: Long, i: Int): Column =
      (col(c) + lit(i * stride)).cast(df.schema(c).dataType)

    def stamp(name: String, df: DataFrame)(shift: (DataFrame, Int) => DataFrame): Unit =
      if (want(name)) {
        val out = (0 until copies).map(i => shift(df, i)).reduce(_ unionAll _)
        out.repartition(32).write.mode("overwrite").parquet(s"$dst/$name.parquet")
        println(s"[scaleup] $name x$copies written")
      }

    // dims: copy verbatim
    Seq("region", "nation").filter(want).foreach { t =>
      Tables.load(spark, src, t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }

    val customer = Tables.customer(spark, src)
    val supplier = Tables.supplier(spark, src)
    val part = Tables.part(spark, src)
    val orders = Tables.orders(spark, src)
    val lineitem = Tables.lineitem(spark, src)
    val events = Tables.events(spark, src)
    val documents = Tables.load(spark, src, "documents")
    val embeddings = Tables.load(spark, src, "embeddings")

    lazy val C = strideOf(customer, "c_custkey")
    lazy val O = strideOf(orders, "o_orderkey")
    lazy val P = strideOf(part, "p_partkey")
    lazy val S = strideOf(supplier, "s_suppkey")
    lazy val E = strideOf(events, "event_id")
    lazy val U = strideOf(events, "user_id")
    lazy val D = math.max(strideOf(documents, "doc_id"), strideOf(embeddings, "vec_id"))

    stamp("customer", customer) { (df, i) =>
      df.withColumn("c_custkey", shifted(df, "c_custkey", C, i))
    }
    stamp("supplier", supplier) { (df, i) =>
      df.withColumn("s_suppkey", shifted(df, "s_suppkey", S, i))
    }
    stamp("part", part) { (df, i) =>
      df.withColumn("p_partkey", shifted(df, "p_partkey", P, i))
    }
    stamp("orders", orders) { (df, i) =>
      df.withColumn("o_orderkey", shifted(df, "o_orderkey", O, i))
        .withColumn("o_custkey", shifted(df, "o_custkey", C, i))
    }
    stamp("lineitem", lineitem) { (df, i) =>
      val base = df.withColumn("l_orderkey", shifted(df, "l_orderkey", O, i))
        .withColumn("l_partkey", shifted(df, "l_partkey", P, i))
        .withColumn("l_suppkey", shifted(df, "l_suppkey", S, i))
      if (!skew) base
      else
        // hub part: 30% of every copy's lineitems point at ONE global part
        // (copy 0's min partkey) — Zipfian reality for the part-join family
        base.withColumn("l_partkey",
          when(pmod(col("l_orderkey") + col("l_linenumber"), lit(10)) < 3,
            lit(1L).cast(df.schema("l_partkey").dataType))
            .otherwise(col("l_partkey")))
    }
    stamp("events", events) { (df, i) =>
      df.withColumn("event_id", shifted(df, "event_id", E, i))
        .withColumn("user_id", shifted(df, "user_id", U, i))
    }
    stamp("documents", documents) { (df, i) =>
      val t =
        if (i == 0) df
        else df.withColumn(
          "text",
          array_join(transform(split(col("text"), " "), w => concat(w, lit(s"~$i"))), " "))
      val sk =
        if (!skew) t
        else
          // hot stop-shingle: one 3-gram ("zq0 zq0 zq0", suffix-free so it
          // is the SAME shingle in every copy) appended to 30% of docs —
          // df ≈ 0.3·n_docs, the classic boilerplate key
          t.withColumn("text",
            when(pmod(col("doc_id"), lit(10)) < 3,
              concat(col("text"), lit(" zq0 zq0 zq0")))
              .otherwise(col("text")))
      sk.withColumn("doc_id", shifted(df, "doc_id", D, i))
        .withColumn("n_chars", length(col("text")).cast(df.schema("n_chars").dataType))
    }
    stamp("embeddings", embeddings) { (df, i) =>
      // Per-copy isometry = cyclic rotation (shift 7i mod 64, distinct and
      // nonzero for i = 1..9) COMPOSED with a tag-seeded sign flip; see the
      // object doc for why both are needed when decades compose.
      val rot =
        if (i == 0) df
        else {
          val sh = (7 * i) % 64
          df.withColumn(
            "embedding",
            expr(s"concat(slice(embedding, ${sh + 1}, ${64 - sh}), slice(embedding, 1, $sh))"))
        }
      val flip =
        if (i == 0) rot
        else rot.withColumn(
          "embedding",
          expr(s"""transform(embedding, (x, d) ->
             IF(substr(md5(concat('flip:', '$tag', ':', '$i', ':', cast(d as string))), 1, 1) < '8',
                x, -x))"""))
      flip.withColumn("vec_id", shifted(df, "vec_id", D, i))
    }
    spark.stop()
  }
}
