package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress fixture generator: replicates a fixture dir `reps`×
  * into `out`, with keys shifted per replica so the result is a VALID
  * larger corpus rather than a pile of duplicates — the point is to
  * measure how the registered plans SCALE (the sf0.1→sf1 exponent),
  * not to benchmark the dedup guards on a pathological 10-way-dup
  * corpus:
  *
  *  - `documents`: doc_id shifted; every WORD gets a per-replica
  *    suffix, so replicas share no shingles/hashes — exact-dup and
  *    near-dup structure per replica matches the source corpus's, and
  *    the corpus-level dup RATE is preserved (a plain copy would make
  *    every doc a 10-way near-dup and measure cluster pathology
  *    instead of scaling);
  *  - `embeddings`: vec_id shifted; the vector is circularly rotated
  *    by the replica index (norm-preserving, keeps the per-replica
  *    geometry; labels keep their distribution);
  *  - `events` / `orders` / `lineitem` / `customer`: ids shifted
  *    consistently (user, order, customer keys move together so FK
  *    joins behave; part/supplier keys reference the UNSCALED dims,
  *    like a real fact-growing-faster-than-dims warehouse);
  *  - `region` / `nation` / `supplier` / `part`: copied as-is (dims).
  *
  * A fourth argument `scaleVocab=true` ALSO shifts the co-occurrence
  * vocabularies (l_partkey, embedding labels) per replica — the
  * "items grow with users" regime. The default (false) keeps them
  * fixed — the DENSIFICATION regime, where each item/cell block grows
  * with the corpus and Σ|block|²-shaped plans (q173, q77's cells)
  * legitimately do quadratic-in-density work inside their documented
  * guards. Timing BOTH regimes separates plan scaling from block
  * densification (BASELINE.md round-15 table). NOTE: with scaleVocab
  * the shifted partkeys no longer join the unscaled part dim — the
  * variant is a timing fixture for the co-occurrence family, not a
  * full FK-consistent corpus.
  *
  * Usage: runMain graft.tools.ScaleFixture [src] [out] [reps] [scaleVocab]
  * (defaults: /root/testdata/sf0.1 → /tmp/sf1 ×10 false)
  */
object ScaleFixture {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/sf1"
    val reps = if (args.length > 2) args(2).toInt else 10
    val scaleVocab = args.length > 3 && args(3).toBoolean
    val cpus = graft.SparkEntry.localCores
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def replicate(df: DataFrame)(per: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until reps).map(i => per(df, i)).reduce(_ unionByName _)

    // documents: shift ids by a clean power-of-ten stride; suffix every
    // word for i > 0 so replicas are lexically disjoint
    val docs = graft.Tables.documents(spark, src)
    val docStride = math.pow(10,
      docs.agg(max("doc_id")).head.getLong(0).toString.length).toLong
    replicate(docs) { (df, i) =>
      val text =
        if (i == 0) col("text")
        else concat_ws(" ",
          transform(split(trim(col("text")), "\\s+"),
            w => concat(w, lit(s"_r$i"))))
      df.select((col("doc_id") + lit(i * docStride)).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).as("n_chars"))
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    val emb = graft.Tables.embeddings(spark, src)
    val embStride = math.pow(10,
      emb.agg(max("vec_id")).head.getLong(0).toString.length).toLong
    replicate(emb) { (df, i) =>
      val rot =
        if (i == 0) col("embedding")
        else concat(slice(col("embedding"), i + 1, 10000),
          slice(col("embedding"), 1, i))
      val lab =
        if (scaleVocab) (col("label") + lit(i * 10000)).cast("int")
        else col("label")
      df.select((col("vec_id") + lit(i * embStride)).as("vec_id"),
        rot.as("embedding"), lab.as("label"))
    }.repartition(8).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")

    val ev = graft.Tables.events(spark, src)
    val evStride = math.pow(10,
      ev.agg(max("event_id")).head.getLong(0).toString.length).toLong
    val userStride = math.pow(10,
      ev.agg(max("user_id")).head.getLong(0).toString.length).toLong
    replicate(ev) { (df, i) =>
      df.select((col("event_id") + lit(i * evStride)).as("event_id"),
        col("ts"), (col("user_id") + lit(i * userStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")

    val cust = graft.Tables.customer(spark, src)
    val custStride = math.pow(10,
      cust.agg(max("c_custkey")).head.getLong(0).toString.length).toLong
    replicate(cust) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * custStride))
    }.repartition(8).write.mode("overwrite").parquet(s"$out/customer.parquet")

    val ord = graft.Tables.orders(spark, src)
    val ordStride = math.pow(10,
      ord.agg(max("o_orderkey")).head.getLong(0).toString.length).toLong
    replicate(ord) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * ordStride))
        .withColumn("o_custkey", col("o_custkey") + lit(i * custStride))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/orders.parquet")

    replicate(graft.Tables.lineitem(spark, src)) { (df, i) =>
      val shifted = df.withColumn("l_orderkey",
        col("l_orderkey") + lit(i * ordStride))
      if (scaleVocab)
        shifted.withColumn("l_partkey", col("l_partkey") + lit(i * 1000000L))
      else shifted
    }.repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    Seq("region", "nation", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println(s"[scalefixture] wrote ${reps}x of $src to $out")
    spark.stop()
  }
}
