package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the perf sweep (VERDICT r7 #5).
  *
  * The driver generates testdata only up to sf0.1; this tool builds an
  * sf1-equivalent corpus as K isomorphic "worlds": each copy k offsets
  * every scaled key by k·10⁹, relabels the document vocabulary through a
  * per-copy word bijection (same-length pseudowords, so n_chars and all
  * explode sizes are preserved), and permutes the embedding dimensions
  * with a per-copy permutation (cosine is invariant under a shared
  * permutation, so WITHIN-world similarity structure is exactly that of
  * sf0.1 while ACROSS-world similarity is destroyed). Net effect:
  * duplicate/near-duplicate RATES are scale-invariant — pair-generator
  * outputs grow linearly with K, the way fresh samples from the same
  * distribution would — instead of the quadratic blow-up verbatim
  * replication causes. Fixed dimensions (region, nation, the probe-id
  * ranges) stay fixed, matching how TPC-H scales.
  *
  * Usage: runMain graft.ScaleGen <srcSfDir> <destDir> <copies>
  *
  * `copies` is also the WORLD-LAYOUT knob for the streaming gates
  * (r10 verdict #2): the doc/event stream scaffolds slice the scaled
  * table into StreamScaffold.Slices ntile blocks over id/time order, and worlds
  * are id-contiguous — so if `copies` divides evenly by the slice
  * count, every world lands wholly inside one micro-batch and no
  * near-dup (which exist only WITHIN a world by construction) can
  * cross a batch boundary, leaving cross-boundary gates (e.g. p50's)
  * vacuously satisfied. Pick `copies` COPRIME to the slice count
  * (e.g. 31 worlds / 3 slices) to make straddling worlds — and hence
  * non-vacuous cross-boundary checks — guaranteed.
  */
object ScaleGen {
  private val Off = 1000000000L

  /** Copy-k word relabeling: identity for k=0; otherwise a deterministic
    * same-length pseudoword over a–z seeded by (word, k). Consistent
    * within a copy (same word → same pseudoword), so each world's token
    * statistics are isomorphic to the original's.
    */
  private def pseudo(w: String, k: Int): String =
    if (k == 0 || w.isEmpty) w
    else {
      var s = scala.util.hashing.MurmurHash3.stringHash(w, 0x9e3779b9 * k) | 1
      val sb = new java.lang.StringBuilder(w.length)
      var i = 0
      while (i < w.length) {
        s = s * 1103515245 + 12345
        sb.append(('a' + math.floorMod(s >> 16, 26)).toChar)
        i += 1
      }
      sb.toString
    }

  def main(args: Array[String]): Unit = {
    val Array(srcDir, destDir, copiesS) = args.take(3)
    val copies = copiesS.toInt
    val spark = Runner.session()
    new java.io.File(destDir).mkdirs()

    def worlds(name: String)(one: (DataFrame, Int) => DataFrame): Unit = {
      val src = Tables(spark, srcDir, name)
      val out = (0 until copies).map(k => one(src, k)).reduce(_.unionAll(_))
      out.write.mode("overwrite").parquet(s"$destDir/$name.parquet")
      println(s"scaled $name x$copies")
    }
    def shift(c: String, k: Int) = col(c) + lit(Off * k)

    // fixed dims: carried through unchanged, like TPC-H's region/nation
    for (t <- Seq("region", "nation")) {
      Tables(spark, srcDir, t).write.mode("overwrite").parquet(s"$destDir/$t.parquet")
      println(s"copied $t")
    }
    worlds("customer")((df, k) => df.withColumn("c_custkey", shift("c_custkey", k)))
    worlds("supplier")((df, k) => df.withColumn("s_suppkey", shift("s_suppkey", k)))
    worlds("part")((df, k) => df.withColumn("p_partkey", shift("p_partkey", k)))
    worlds("orders")((df, k) => df
      .withColumn("o_orderkey", shift("o_orderkey", k))
      .withColumn("o_custkey", shift("o_custkey", k)))
    worlds("lineitem")((df, k) => df
      .withColumn("l_orderkey", shift("l_orderkey", k))
      .withColumn("l_partkey", shift("l_partkey", k))
      .withColumn("l_suppkey", shift("l_suppkey", k)))
    // events: more users (the CEP partition key) with the same per-user
    // stream shape — the natural scaling axis for keyed state
    worlds("events")((df, k) => df
      .withColumn("event_id", shift("event_id", k))
      .withColumn("user_id", shift("user_id", k)))
    worlds("documents") { (df, k) =>
      val relabel = udf((t: String) => t.split(" ").map(pseudo(_, k)).mkString(" "))
      df.withColumn("doc_id", shift("doc_id", k))
        .withColumn("text", relabel(col("text")))
    }
    worlds("embeddings") { (df, k) =>
      val perm = new scala.util.Random(k).shuffle((0 until 64).toVector)
      val permute = udf((v: Seq[Float]) => perm.map(v).toArray)
      df.withColumn("vec_id", shift("vec_id", k))
        .withColumn("embedding",
          if (k == 0) col("embedding") else permute(col("embedding")))
    }
    spark.stop()
  }
}
