package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up fixture generator: replicates a driver-generated sf directory
  * `factor`× into a new directory, for scaling-curve measurements beyond the
  * provided scale factors (the r4 verdict's sf0.5 curve). NOT part of the
  * engine surface — a measurement tool.
  *
  * Replication is key-shifted and cross-copy disjoint so a k× output behaves
  * like a k×-larger world, not k stacked clones:
  *   - every PK/FK shifts by `copy * (max_key + 1)` consistently across
  *     tables, so join fan-outs per key stay constant;
  *   - dimension tables `region`/`nation` copy once (their FKs are NOT
  *     shifted), as a real scale-up grows facts, not geography;
  *   - `documents.text` gets every token suffixed `_k` in copy k — within-
  *     copy duplicate structure (what dedup queries measure) is preserved,
  *     while cross-copy shingles/fingerprints stay disjoint, which is what a
  *     5× crawl actually looks like; identical-text copies would instead
  *     quadratically inflate LSH buckets.
  *
  * Usage: runMain graft.GenScale <srcDir> <outDir> <factor>
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args.take(3)
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1: $factor")
    val spark = Session()

    def tbl(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")
    def delta(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    val dCust = delta(tbl("customer"), "c_custkey")
    val dOrd = delta(tbl("orders"), "o_orderkey")
    val dPart = delta(tbl("part"), "p_partkey")
    val dSupp = delta(tbl("supplier"), "s_suppkey")
    val dEvent = delta(tbl("events"), "event_id")
    val dUser = delta(tbl("events"), "user_id")
    val dDoc = delta(tbl("documents"), "doc_id")
    val dVec = delta(tbl("embeddings"), "vec_id")

    /** `factor` key-shifted copies of `df` (shift of long column `c` by
      * `d*k` for each (c, d) pair), unioned. */
    def replicate(df: DataFrame, shifts: (String, Long)*): DataFrame =
      (0 until factor).map { k =>
        shifts.foldLeft(df) { case (acc, (c, d)) =>
          acc.withColumn(c, col(c) + lit(d * k))
        }
      }.reduce(_ unionByName _)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[genscale] $name: ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }

    // dims copy once
    write(tbl("region"), "region")
    write(tbl("nation"), "nation")

    write(replicate(tbl("customer"), "c_custkey" -> dCust), "customer")
    write(replicate(tbl("orders"), "o_orderkey" -> dOrd, "o_custkey" -> dCust), "orders")
    write(replicate(tbl("lineitem"),
      "l_orderkey" -> dOrd, "l_partkey" -> dPart, "l_suppkey" -> dSupp), "lineitem")
    write(replicate(tbl("part"), "p_partkey" -> dPart), "part")
    write(replicate(tbl("supplier"), "s_suppkey" -> dSupp), "supplier")
    write(replicate(tbl("events"), "event_id" -> dEvent, "user_id" -> dUser), "events")

    val docs = (0 until factor).map { k =>
      val base = tbl("documents").withColumn("doc_id", col("doc_id") + lit(dDoc * k))
      if (k == 0) base
      else base
        .withColumn("text",
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit(s"_$k"))), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_ unionByName _)
    write(docs, "documents")

    write(replicate(tbl("embeddings"), "vec_id" -> dVec), "embeddings")
    spark.stop()
  }
}
