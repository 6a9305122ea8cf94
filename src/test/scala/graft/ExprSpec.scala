package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions.{col, array_intersect}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll
import scala.util.Random

/** Native Catalyst expression specs: every fused graftexpr expression
  * must be bit-identical to the functions._ composition it replaced, in
  * both interpreted and whole-stage-codegen evaluation. The first cases
  * read `Seq(...).toDF` frames, which ConvertToLocalRelation folds to a
  * LocalRelation and so evaluates interpreted; the "through whole-stage
  * codegen" cases at the end run each value case again over the same
  * rows read back from parquet, where the projection is a `*(n) Project`.
  */
class ExprSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("expr-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val rnd = new Random(11)

  "CosineSim" should "be bit-identical to the aggregate/zip_with composition" in {
    val sparkS = spark
    import sparkS.implicits._
    val rows = (1 to 300).map { i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1), Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val composed = ops.SimilarityOps.dot(col("a"), col("b")) /
      (ops.SimilarityOps.norm(col("a")) * ops.SimilarityOps.norm(col("b")))
    val out = df.select(
      org.apache.spark.sql.graftexpr.VectorExprs.cosineSim(col("a"), col("b")).as("native"),
      composed.as("composed")).collect()
    out.foreach { r =>
      // bit-exact: both accumulate in element order
      java.lang.Double.doubleToLongBits(r.getDouble(0)) shouldBe
        java.lang.Double.doubleToLongBits(r.getDouble(1))
    }
  }

  "JaccardSim" should "equal the array_intersect formulation on distinct arrays" in {
    val sparkS = spark
    import sparkS.implicits._
    val rows = (1 to 300).map { i =>
      (i,
        Seq.fill(30)(rnd.nextInt(50).toLong).distinct,
        Seq.fill(30)(rnd.nextInt(50).toLong).distinct)
    }
    val df = rows.toDF("id", "a", "b")
    val composed = functions.size(array_intersect(col("a"), col("b"))).cast("double") /
      (functions.size(col("a")) + functions.size(col("b")) - functions.size(array_intersect(col("a"), col("b")))).cast("double")
    val out = df.select(
      org.apache.spark.sql.graftexpr.VectorExprs.jaccardSim(col("a"), col("b")).as("native"),
      composed.as("composed")).collect()
    out.foreach { r => r.getDouble(0) shouldBe r.getDouble(1) }
  }

  "GraftExtensions" should "expose the kernels as SQL functions" in {
    spark // force shared-context creation first
    // extensions apply only at session construction: clear the session
    // handles so getOrCreate builds a NEW SparkSession over the same
    // SparkContext with spark.sql.extensions applied (do not stop it)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]").appName("ext-spec")
      .withExtensions(new org.apache.spark.sql.graftexpr.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val r = s2.sql(
        """SELECT jaccard_sim(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS j,
          |       cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
          |                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c""".stripMargin)
        .collect()(0)
      r.getDouble(0) shouldBe 0.5 +- 1e-12
      r.getDouble(1) shouldBe 1.0 +- 1e-12
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  "MinHashSig" should "be value-identical to the array_min/transform composition" in {
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    import ops.DedupOps._
    import ops.TextOps.HashMod
    val rows = (1 to 200).map { i =>
      (i, Seq.fill(rnd.nextInt(40) + 1)(rnd.nextLong().abs % HashMod).distinct)
    } :+ (0, Seq.empty[Long]) // empty input: every lane null
    val df = rows.toDF("id", "hashes")
    val composed = array((0 until MinHashK).map { i =>
      array_min(transform(col("hashes"),
        h => (lit(MinHashA(i)) * h + MinHashB(i)) % HashMod))
    }: _*)
    val out = df.select(
      minHashSig(col("hashes")).as("native"), composed.as("composed")).collect()
    out.foreach { r => r.getSeq[Any](0) shouldBe r.getSeq[Any](1) }
  }

  "BandKeysExpr" should "be value-identical to the element_at fold composition" in {
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    import ops.DedupOps._
    import ops.TextOps.HashMod
    (Seq(PairBands, NnBands)).foreach { bands =>
      val rows = (1 to 200).map { i =>
        (i, Seq.fill(MinHashK)(rnd.nextLong().abs % HashMod))
      }
      val df = rows.toDF("id", "sig")
      val out = df.select(
        bandKeys(col("sig"), bands).as("native"),
        bandKeysHof(col("sig"), bands).as("composed")).collect()
      out.foreach { r => r.getSeq[Any](0) shouldBe r.getSeq[Any](1) }
      // null-lane propagation: a null element nulls exactly its band's key
      val withNull = spark.sql(
        s"SELECT transform(sequence(1, $MinHashK), x -> " +
          s"IF(x = 1, CAST(NULL AS BIGINT), CAST(x AS BIGINT))) AS sig")
      val nk = withNull.select(bandKeys(col("sig"), bands).as("k")).collect()(0).getSeq[Any](0)
      assert(nk.head == null)
      assert(nk.tail.forall(_ != null))
      // a NULL signature yields an array of `bands` null keys (the
      // fold's array-of-null-folds), NOT a null array — saltedBands'
      // posexplode row cardinality depends on it
      val nullSig = spark.sql("SELECT CAST(NULL AS ARRAY<BIGINT>) AS sig")
      val nn = nullSig.select(bandKeys(col("sig"), bands).as("k")).collect()(0)
      nn.isNullAt(0) shouldBe false
      val ks = nn.getSeq[Any](0)
      ks.size shouldBe bands
      assert(ks.forall(_ == null))
      // a sig shorter than MinHashK nulls every band whose slice runs
      // past the end instead of silently folding wrong keys
      val short = spark.sql("SELECT sequence(CAST(1 AS BIGINT), 8) AS sig")
      val sk = short.select(bandKeys(col("sig"), bands).as("k")).collect()(0).getSeq[Any](0)
      val laneRows = MinHashK / bands
      sk.zipWithIndex.foreach { case (kv, b) =>
        if ((b + 1) * laneRows <= 8) assert(kv != null) else assert(kv == null)
      }
    }
  }

  "SimHashPack" should "be value-identical to the 61 aggregate() majority votes" in {
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    import ops.DedupOps._
    import ops.TextOps.HashMod
    // the mixed form's contract domain is [0, 2^31) (tokenHashes output):
    // outside it the affine mix overflows differently under ANSI SQL vs
    // Java wrap-around, so the spec generates the domain plus empties,
    // with boundary values to hit every vote bit
    val rows = (1 to 200).map { i =>
      (i, Seq.fill(rnd.nextInt(40))(
        if (rnd.nextInt(20) == 0) HashMod - 1 else rnd.nextLong().abs % HashMod))
    } :+ (0, Seq.empty[Long])
    val df = rows.toDF("id", "hashes")
    val out = df.select(
      simHash(col("hashes")).as("native"), simHashHof(col("hashes")).as("hof")).collect()
    out.foreach { r => r.getLong(0) shouldBe r.getLong(1) }
  }

  "HyperplaneBuckets" should "be value-identical to the aggregate/zip_with composition" in {
    import org.apache.spark.sql.functions._
    import ops.SimilarityOps.{planeComponent, lshBuckets, NumPlanes, NumTables}
    val sparkS = spark
    import sparkS.implicits._
    val rows = (1 to 200).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("id", "emb")
    val composed = array((0 until NumTables).map { tbl =>
      (0 until NumPlanes).map { p =>
        val proj = aggregate(
          zip_with(col("emb"),
            sequence(lit(0L), functions.size(col("emb")).cast("long") - 1),
            (x, i) => x.cast("double") * planeComponent(tbl * NumPlanes + p, i)),
          lit(0d), (acc, v) => acc + v)
        when(proj > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
    val out = df.select(
      lshBuckets(col("emb")).as("native"), composed.as("composed")).collect()
    out.foreach { r => r.getSeq[Long](0) shouldBe r.getSeq[Long](1) }
  }

  it should "stay inside whole-stage codegen" in {
    // spark.range keeps the projection a real codegen stage (a local Seq
    // would constant-fold to LocalTableScan)
    val df = spark.range(100)
      .select(
        functions.array(col("id"), col("id") + 1).as("a"),
        functions.array(col("id") + 1, col("id") + 2).as("b"))
      .select(org.apache.spark.sql.graftexpr.VectorExprs.jaccardSim(col("a"), col("b")).as("j"))
    // the "*(n)" operator prefix marks a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    plan should include regex "\\*\\(1\\) Project \\[jaccardsim"
    // and the generated code compiles + evaluates (|{i,i+1}∩{i+1,i+2}| = 1 of 3)
    df.collect().foreach(r => r.getDouble(0) shouldBe (1.0 / 3.0) +- 1e-12)

    // the text-hash kernels too: one codegen'd projection, correct values
    val tdf = spark.range(50)
      .select(functions.concat(functions.lit("w"), col("id"), functions.lit(" w"), col("id") + 1,
        functions.lit(" w"), col("id") + 2, functions.lit(" w"), col("id") + 3).as("t"))
      .select(
        ops.TextOps.polyHash(col("t")).as("ph"),
        ops.TextOps.tokenHashes(col("t")).as("th"),
        org.apache.spark.sql.graftexpr.VectorExprs.shingleHashes(col("t"), 3, ops.TextOps.HashMod).as("sh"))
    val tplan = tdf.queryExecution.executedPlan.toString
    tplan should include regex "\\*\\(1\\) Project \\[polyhash"
    tdf.collect().foreach { r =>
      r.getSeq[Long](1).length shouldBe 4 // 4 distinct tokens
      r.getSeq[Long](2).length shouldBe 1 // len - n = 1 shingle
    }

    // charBigrams: codegen'd projection, n-1 bigrams
    val bdf = spark.range(50)
      .select(functions.concat(functions.lit("ab"), col("id") % 10).as("t"))
      .select(org.apache.spark.sql.graftexpr.VectorExprs.charBigrams(col("t")).as("bg"))
    bdf.queryExecution.executedPlan.toString should include regex "\\*\\(1\\) Project \\[charbigrams"
    bdf.collect().foreach(r => r.getSeq[String](0).length shouldBe 2) // "abN" -> 2 bigrams
  }

  "the text hash expressions" should "match the higher-order formulations value-for-value" in {
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    val mod = ops.TextOps.HashMod
    val words = Vector("the", "cat", "sat", "on", "a", "mat", "x1", "zz!", "", "q-9")
    def randText(): String =
      (1 to (rnd.nextInt(12))).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    val texts = ((1 to 200).map(_ => randText()) ++
      Seq("", " ", "a", "a b", "a  b", "one two three", "a b c d ",
        "caf\u00e9 na\u00efve", "a \ud83d\ude00 b", "\ud83d\ude00\ud83d\ude01 x")).zipWithIndex
    val df = texts.map { case (t, i) => (i, t) }.toDF("id", "t")

    // the replaced HOF formulations, verbatim
    def hofPoly(s: org.apache.spark.sql.Column) =
      aggregate(split(s, ""), lit(0L), (acc, c) => (acc * 31 + ascii(c)) % mod)
    val hofTokens = array_distinct(transform(split(col("t"), " "), x => hofPoly(x)))
    val toks = split(col("t"), " ")
    val grams = transform(
      sequence(lit(0), functions.size(toks) - 3 - 1),
      i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3)))
    val hofShingles = when(functions.size(toks) > 3, array_distinct(transform(grams, g => hofPoly(g))))
      .otherwise(array().cast("array<bigint>"))

    val out = df.select(
      ops.TextOps.polyHash(col("t")).as("p_new"), hofPoly(col("t")).as("p_old"),
      ops.TextOps.tokenHashes(col("t")).as("t_new"), hofTokens.as("t_old"),
      ops.DedupOps.shingleHashes(col("t"), 3).as("s_new"), hofShingles.as("s_old")).collect()
    out.foreach { r =>
      r.getLong(0) shouldBe r.getLong(1)
      r.getSeq[Long](2) shouldBe r.getSeq[Long](3)
      r.getSeq[Long](4) shouldBe r.getSeq[Long](5)
    }

    // charBigrams vs the GUARDED HOF formulation (substr/length count
    // code points — the non-BMP texts above exercise surrogate pairs).
    // The guard matters: the naked sequence(1, length-1) DESCENDS for
    // length < 2 (Spark's sequence auto-steps -1), emitting phantom ""
    // bigrams on empty text, while DuckDB's range(1, L) — the oracle —
    // is empty; the fused kernel implements the oracle semantics.
    val bgOut = df.select(
      org.apache.spark.sql.graftexpr.VectorExprs.charBigrams(col("t")).as("b_new"),
      when(functions.length(col("t")) >= 2,
        transform(sequence(lit(1), functions.length(col("t")) - 1),
          i => col("t").substr(i, lit(2))))
        .otherwise(array().cast("array<string>")).as("b_old")).collect()
    bgOut.foreach { r =>
      r.getSeq[String](0) shouldBe r.getSeq[String](1)
    }
  }

  "LevExact" should "equal functions.levenshtein on every input shape" in {
    val sparkS = spark
    import sparkS.implicits._
    val alphabet = "abcde é世😀" // multi-byte + surrogate pair
    def randStr(r: Random, n: Int): String = {
      val sb = new StringBuilder
      (1 to n).foreach { _ =>
        val c = alphabet.codePointAt(r.nextInt(7)) // index into BMP prefix
        sb.appendAll(Character.toChars(
          if (r.nextInt(10) == 0) 0x1f600 + r.nextInt(16) else c))
      }
      sb.toString
    }
    val r = new Random(4127)
    // near pairs (the p119 shape: small true distance), far pairs
    // (band must degrade to the classic answer), and edges
    val near = (1 to 120).map { _ =>
      val s = randStr(r, 30 + r.nextInt(200))
      val cps = s.codePoints().toArray
      val t = new StringBuilder
      cps.foreach { cp =>
        if (r.nextInt(25) != 0) t.appendAll(Character.toChars(cp))
        if (r.nextInt(25) == 0) t.append('x')
      }
      (s, t.toString)
    }
    val far = (1 to 40).map(_ => (randStr(r, r.nextInt(80)), randStr(r, r.nextInt(80))))
    // multi-block shapes (m > 64, > 128, > 512 code points) — the
    // blocked Myers carry chain must hand hout across every word
    // boundary; p119's real documents are 300-600 chars
    val long = (1 to 30).map(_ =>
      (randStr(r, 65 + r.nextInt(600)), randStr(r, 65 + r.nextInt(600))))
    val edges = Seq(("", ""), ("", "abc"), ("abc", ""), ("same", "same"),
      ("a", "b"), ("😀", "😁"), ("ab", "ba"),
      // far beyond p119's 577-char max: 5k code points (79 blocks)
      (randStr(r, 5000), randStr(r, 5000)),
      // shared long flank: the strip path must hand the tiny core to Myers
      ("x" * 3000 + "abc" + "y" * 3000, "x" * 3000 + "abd" + "y" * 3000))
    val out = (near ++ far ++ long ++ edges).toDF("a", "b").select(
      org.apache.spark.sql.graftexpr.VectorExprs.levExact(col("a"), col("b")).as("myers"),
      functions.levenshtein(col("a"), col("b")).as("builtin")).collect()
    out.foreach(row => row.getInt(0) shouldBe row.getInt(1))
  }

  // ---- the value cases again, through whole-stage codegen

  private val cgRnd = new Random(23)

  /** Evaluates `native` over `rows` twice — interpreted (the Seq-backed
    * frame folds to a LocalTableScan) and whole-stage-codegen'd (the same
    * rows read back from parquet, the plan a `*(n) Project` naming
    * `name`) — and checks, per `id`, that both equal `composed`.
    */
  private def bothWays(rows: DataFrame, name: String, native: Column, composed: Column): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("expr-cg")
    try {
      val path = dir.resolve("rows.parquet").toString
      rows.write.parquet(path)
      val interp = rows.select(col("id"), native.as("native"), composed.as("composed"))
      interp.queryExecution.executedPlan.toString should include ("LocalTableScan")
      val cg = spark.read.parquet(path).select(col("id"), native.as("native"))
      cg.queryExecution.executedPlan.toString should include regex
        s"\\*\\(\\d+\\) Project \\[id#\\d+, [^\\n]*$name\\("
      val cgById = cg.collect().map(r => r.get(0) -> r.get(1)).toMap
      val expected = interp.collect()
      cgById.size shouldBe expected.length
      // doubles compare bit-for-bit: both sides accumulate in element order
      def bits(v: Any): Any = v match {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case other => other
      }
      expected.foreach { r =>
        bits(r.get(1)) shouldBe bits(r.get(2))
        bits(cgById(r.get(0))) shouldBe bits(r.get(1))
      }
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
  }

  private def hashLists(n: Int, len: Int, withNulls: Boolean): Seq[(Int, Seq[Option[Long]])] =
    (1 to n).map { i =>
      (i, Seq.fill(cgRnd.nextInt(len + 1))(
        if (withNulls && cgRnd.nextInt(25) == 0) None
        else Some(cgRnd.nextLong().abs % ops.TextOps.HashMod)))
    }

  "CosineSim through whole-stage codegen" should "equal its interpreted value and the composition" in {
    val sparkS = spark
    import sparkS.implicits._
    val rows = (1 to 200).map { i =>
      (i, Array.fill(48)(cgRnd.nextFloat() * 2 - 1), Array.fill(48)(cgRnd.nextFloat() * 2 - 1))
    } :+ ((0, Array.fill(48)(0f), Array.fill(48)(1f))) // zero norm → 0.0
    val norms = ops.SimilarityOps.norm(col("a")) * ops.SimilarityOps.norm(col("b"))
    bothWays(rows.toDF("id", "a", "b"), "cosinesim",
      org.apache.spark.sql.graftexpr.VectorExprs.cosineSim(col("a"), col("b")),
      functions.when(norms === 0, 0.0).otherwise(ops.SimilarityOps.dot(col("a"), col("b")) / norms))
  }

  "JaccardSim and JaccardSortedSim through whole-stage codegen" should
    "equal their interpreted values and the array_intersect formulation" in {
    val sparkS = spark
    import sparkS.implicits._
    val rows = (1 to 200).map { i =>
      (i, Seq.fill(30)(cgRnd.nextInt(50).toLong).distinct.sorted,
        Seq.fill(30)(cgRnd.nextInt(50).toLong).distinct.sorted)
    } ++ Seq((0, Seq.empty[Long], Seq.empty[Long]), (-1, Seq.empty[Long], Seq(1L)))
    val inter = functions.size(array_intersect(col("a"), col("b")))
    val composed = functions.when(functions.size(col("a")) + functions.size(col("b")) === 0, 1.0)
      .otherwise(inter.cast("double") /
        (functions.size(col("a")) + functions.size(col("b")) - inter).cast("double"))
    val df = rows.toDF("id", "a", "b")
    bothWays(df, "jaccardsim",
      org.apache.spark.sql.graftexpr.VectorExprs.jaccardSim(col("a"), col("b")), composed)
    bothWays(df, "jaccardsortedsim",
      org.apache.spark.sql.graftexpr.VectorExprs.jaccardSortedSim(col("a"), col("b")), composed)
  }

  "MinHashSig through whole-stage codegen" should "equal its interpreted value and the composition" in {
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    import ops.DedupOps._
    // null elements are skipped; an empty or all-null input nulls every lane
    val rows = hashLists(200, 40, withNulls = true) ++
      Seq((0, Seq.empty[Option[Long]]), (-1, Seq(Option.empty[Long])))
    bothWays(rows.toDF("id", "hashes"), "minhashsig", minHashSig(col("hashes")),
      array((0 until MinHashK).map { i =>
        array_min(transform(col("hashes"),
          h => (lit(MinHashA(i)) * h + MinHashB(i)) % ops.TextOps.HashMod))
      }: _*))
  }

  "BandKeysExpr through whole-stage codegen" should "equal its interpreted value and the fold" in {
    val sparkS = spark
    import sparkS.implicits._
    import ops.DedupOps._
    // full signatures with null lanes, and a NULL one (the fold's ANSI
    // element_at fails on a short one; the first BandKeysExpr case pins it)
    val rows: Seq[(Int, Option[Seq[Option[Long]]])] =
      (1 to 200).map { i =>
        (i, Some(Seq.fill(MinHashK)(
          if (cgRnd.nextInt(60) == 0) None else Some(cgRnd.nextLong().abs % ops.TextOps.HashMod))))
      } :+ ((0, None))
    Seq(PairBands, NnBands).foreach { bands =>
      bothWays(rows.toDF("id", "sig"), "bandkeysexpr",
        bandKeys(col("sig"), bands), bandKeysHof(col("sig"), bands))
    }
  }

  "SimHashPack through whole-stage codegen" should "equal its interpreted value and the majority votes" in {
    val sparkS = spark
    import sparkS.implicits._
    import ops.DedupOps._
    val rows = hashLists(200, 40, withNulls = true) :+ ((0, Seq.empty[Option[Long]]))
    bothWays(rows.toDF("id", "hashes"), "simhashpack",
      simHash(col("hashes")), simHashHof(col("hashes")))
  }

  "HyperplaneBuckets through whole-stage codegen" should "equal its interpreted value and the composition" in {
    import org.apache.spark.sql.functions._
    import ops.SimilarityOps.{planeComponent, lshBuckets, NumPlanes, NumTables}
    val sparkS = spark
    import sparkS.implicits._
    // a null component zeroes every bucket
    val rows = (1 to 200).map(i => (i, Seq.fill(64)(Option(cgRnd.nextFloat() * 2 - 1)))) :+
      ((0, Seq(Option(0.5f), Option.empty[Float], Option(-0.5f))))
    val composed = array((0 until NumTables).map { tbl =>
      (0 until NumPlanes).map { p =>
        val proj = aggregate(
          zip_with(col("emb"),
            sequence(lit(0L), functions.size(col("emb")).cast("long") - 1),
            (x, i) => x.cast("double") * planeComponent(tbl * NumPlanes + p, i)),
          lit(0d), (acc, v) => acc + v)
        when(proj > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
    bothWays(rows.toDF("id", "emb"), "hyperplanebuckets", lshBuckets(col("emb")), composed)
  }

  "the text hash expressions through whole-stage codegen" should
    "equal their interpreted values and the higher-order formulations" in {
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    val mod = ops.TextOps.HashMod
    val words = Vector("the", "cat", "sat", "on", "a", "mat", "x1", "zz!", "", "q-9")
    val texts = (1 to 200).map(_ =>
      (1 to cgRnd.nextInt(12)).map(_ => words(cgRnd.nextInt(words.size))).mkString(" ")) ++
      Seq("", " ", "a", "a b", "a b c d ", "café naïve", "a 😀 b",
        "a𝄞b")
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "t")
    def hofPoly(s: Column) =
      aggregate(split(s, ""), lit(0L), (acc, c) => (acc * 31 + ascii(c)) % mod)
    val toks = split(col("t"), " ")
    val grams = transform(sequence(lit(0), functions.size(toks) - 3 - 1),
      i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3)))
    bothWays(df, "polyhash", ops.TextOps.polyHash(col("t")), hofPoly(col("t")))
    bothWays(df, "tokenhashes", ops.TextOps.tokenHashes(col("t")),
      array_distinct(transform(toks, x => hofPoly(x))))
    bothWays(df, "shinglehashes", ops.DedupOps.shingleHashes(col("t"), 3),
      when(functions.size(toks) > 3, array_distinct(transform(grams, g => hofPoly(g))))
        .otherwise(array().cast("array<bigint>")))
    bothWays(df, "charbigrams",
      org.apache.spark.sql.graftexpr.VectorExprs.charBigrams(col("t")),
      when(functions.length(col("t")) >= 2,
        transform(sequence(lit(1), functions.length(col("t")) - 1), i => col("t").substr(i, lit(2))))
        .otherwise(array().cast("array<string>")))
  }

  "LevExact through whole-stage codegen" should "equal its interpreted value and functions.levenshtein" in {
    val sparkS = spark
    import sparkS.implicits._
    val alphabet = Vector("a", "b", "c", "é", "世", "😀")
    def randStr(n: Int): String = (1 to n).map(_ => alphabet(cgRnd.nextInt(alphabet.size))).mkString
    val pairs = (1 to 100).map(_ => (randStr(cgRnd.nextInt(150)), randStr(cgRnd.nextInt(150)))) ++
      Seq(("", ""), ("", "abc"), ("same", "same"), ("x" * 200 + "ab", "x" * 200 + "ba"))
    val df = pairs.zipWithIndex.map { case ((a, b), i) => (i, a, b) }.toDF("id", "a", "b")
    bothWays(df, "levexact",
      org.apache.spark.sql.graftexpr.VectorExprs.levExact(col("a"), col("b")),
      functions.levenshtein(col("a"), col("b")))
  }

  "TextOps.polyHashJvm" should "fold code points like the PolyHash expression" in {
    val sparkS = spark
    import sparkS.implicits._
    // U+1D11E is a surrogate pair: one fold step of 119070, not two
    val s = "a𝄞b"
    ops.TextOps.polyHashJvm(s) shouldBe 3784485L
    val viaExpr = Seq(s).toDF("t").select(ops.TextOps.polyHash(col("t"))).collect()(0).getLong(0)
    ops.TextOps.polyHashJvm(s) shouldBe viaExpr
  }
}
