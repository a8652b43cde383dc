package graft

import graft.functions.VectorFunctions
import graft.sources.GraphTextIO
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

class PropertySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** Deterministic sampler (scalatestplus isn't in the offline cache). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("adjacency codec roundtrips arbitrary small graphs") {
    val genGraph = for {
      n <- Gen.choose(1, 12)
      edges <- Gen.listOf(Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield (n, edges.distinct)
    samples(genGraph, 8).foreach { case (n, edges) =>
      val df =
        if (edges.isEmpty) Seq((0, 0)).toDF("src", "dst").limit(0)
        else edges.toDF("src", "dst")
      val path = s"${java.nio.file.Files.createTempDirectory("gtxt")}/G.txt"
      GraphTextIO.write(df, n, path)
      val back = GraphTextIO.read(spark, path).select("src", "dst")
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      assert(back == edges.toSet, s"n=$n edges=$edges")
    }
  }

  test("CSV roundtrip preserves arbitrary hostile strings and nulls") {
    // drives the sentinel-escape bijection (and RFC-4180 quoting) with
    // generated content: backslash runs, the \N family, newlines,
    // commas, quotes, empties, and nulls must all come back exactly
    import graft.sources.CsvIO
    val hostile: Gen[String] = Gen.oneOf(
      Gen.listOfN(3, Gen.oneOf("\\", "N", "\n", ",", "\"", "x", "")).map(_.mkString),
      Gen.choose(0, 4).map(k => "\\" * k + "N"),
      Gen.oneOf("\\N", "\\\\N", "", " ", "\\n", "N\\", "a,b\nc"))
    val genRow = Gen.zip(Gen.option(hostile), Gen.option(hostile))
    val rows = samples(genRow, 40).zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a.orNull, b.orNull) }
    val df = rows.toDF("id", "s1", "s2")
    val dir = java.nio.file.Files.createTempDirectory("csvprop").toString
    CsvIO.write(df, s"$dir/rows")
    val back = CsvIO.read(spark, s"$dir/rows", df.schema).cache()
    assert(back.filter(col("_corrupt").isNotNull).count() == 0)
    val got = back.select("id", "s1", "s2").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    back.unpersist()
    assert(got == rows.sortBy(_._1), "CSV roundtrip mutated a value")
  }

  test("codegen dot/norm are bit-identical to an in-order Scala fold") {
    val genVecs = for {
      n <- Gen.choose(1, 80)
      a <- Gen.listOfN(n, Gen.chooseNum(-10.0f, 10.0f))
      b <- Gen.listOfN(n, Gen.chooseNum(-10.0f, 10.0f))
    } yield (a, b)
    samples(genVecs, 8).foreach { case (a, b) =>
      val row = Seq((a, b)).toDF("a", "b")
        .select(VectorFunctions.floatDot(col("a"), col("b")).as("d"),
          VectorFunctions.floatNorm(col("a")).as("n"))
        .collect()(0)
      val expDot = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
      val expNorm = math.sqrt(a.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
      assert(java.lang.Double.doubleToLongBits(row.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(expDot))
      assert(java.lang.Double.doubleToLongBits(row.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(expNorm))
    }
  }

  test("sorted_intersect_count equals size(array_intersect) on random sets") {
    val genSets = for {
      a <- Gen.listOf(Gen.alphaStr.map(_.take(6)))
      b <- Gen.listOf(Gen.alphaStr.map(_.take(6)))
    } yield (a.distinct.sorted, b.distinct.sorted)
    samples(genSets, 10).foreach { case (a, b) =>
      val r = Seq((a, b)).toDF("a", "b")
        .select(
          graft.functions.SortedIntersectCount.sortedIntersectCount(col("a"), col("b")).as("m"),
          size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
        .collect()(0)
      assert(r.getLong(0) == r.getLong(1), s"a=$a b=$b")
    }
  }

  test("saltedJoin matches its unsalted equivalent on skewed data") {
    // 90% of rows share one hot key
    val big = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 7L, i)).toDF("k", "v")
    val small = Seq((7L, "hot"), (100L, "cold"), (999L, "unused")).toDF("k", "name")
    val plain = big.join(small, "k")
    val salted = ops.Skew.saltedJoin(big, small, "k", salt = 8)
    assert(salted.count() == plain.count())
    assert(salted.agg(sum("v")).collect()(0).getLong(0) ==
      plain.agg(sum("v")).collect()(0).getLong(0))
  }

  test("TopKBuffer selection equals sort-take-k under arbitrary insert/merge splits") {
    import graft.functions.TopKBuffer
    // scores drawn from a tiny value set (dense ties) plus NaN and
    // signed zeros; payload = row index (unique, like neighbor ids);
    // reference = the SQL total order the buffer claims to implement
    val score: Gen[Double] = Gen.oneOf(0.0, -0.0, 0.25, 0.5, 1.0, -1.0, Double.NaN)
    def rank(s: Double): Double = if (s.isNaN) Double.MaxValue else if (s == 0.0) 0.0 else s
    samples(Gen.zip(Gen.listOf(score), Gen.choose(1, 6), Gen.choose(0, 10)), 30)
      .foreach { case (scores, k, splitSeed) =>
        val rows = scores.zipWithIndex.map { case (s, i) => (s, i.toLong) }
        val expect = rows.sortBy { case (s, p) => (-rank(s), p) }.take(k)
        // split rows across two partial buffers at an arbitrary point,
        // exercising insert AND merge paths
        val split = if (rows.isEmpty) 0 else splitSeed % (rows.size + 1)
        val (l, r) = rows.splitAt(split)
        val a = new TopKBuffer(k)
        val b = new TopKBuffer(k)
        l.foreach { case (s, p) => a.insert(s, p) }
        r.foreach { case (s, p) => b.insert(s, p) }
        a.mergeFrom(b)
        val got = (0 until a.size).map(i => (a.scores(i), a.payloads(i)))
        // compare score on rank bits so NaN == NaN and -0.0 == 0.0
        def bits(xs: Seq[(Double, Long)]) =
          xs.map { case (s, p) => (java.lang.Double.doubleToRawLongBits(rank(s)), p) }
        assert(bits(got) == bits(expect),
          s"scores=$scores k=$k split=$split got=$got expect=$expect")
      }
  }

  test("bloom sidecars: no false negatives; a missing sidecar is always suspect") {
    import graft.util.BloomSidecars
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val dir = java.nio.file.Files.createTempDirectory("bloomprop").toString
    samples(Gen.listOfN(200, Gen.choose(Long.MinValue, Long.MaxValue)), 10)
      .zipWithIndex.foreach { case (keys, i) =>
        val df = keys.toDF("k")
        val p = new org.apache.hadoop.fs.Path(s"$dir/b$i")
        BloomSidecars.write(fs, p, BloomSidecars.build(df, "k", keys.size.toLong))
        val bf = BloomSidecars.read(fs, p)
        // the membership contract: EVERY inserted key must be claimed
        // after a write/read roundtrip — a false negative here silently
        // drops dup detection for that doc forever
        keys.foreach(k => assert(bf.mightContainLong(k),
          s"false negative for $k in sample $i"))
      }
    // empty build: a never-matching (but valid) bloom
    val empty = BloomSidecars.build(Seq.empty[Long].toDF("k"), "k", 0L)
    assert(!(0L to 50L).exists(empty.mightContainLong))
    // a missing sidecar reads as null = always-suspect, preserving
    // correctness for segments that predate blooms
    assert(BloomSidecars.read(fs,
      new org.apache.hadoop.fs.Path(s"$dir/nope")) == null)
  }

  test("AudioEnergies kernel equals a code-point recount on hostile " +
      "unicode strings (and the Spark expression agrees end to end)") {
    // the kernel iterates CODE POINTS (sample i = first code point of
    // the i-th 1-char substring — the contract the HOF form had);
    // astral chars (surrogate pairs) are the divergence risk vs a
    // naive charAt walk, so generate them on purpose
    val genStr: Gen[String] = Gen.listOf(Gen.frequency(
      6 -> Gen.choose(32, 126),          // ascii
      2 -> Gen.choose(0xa0, 0x2fff),     // BMP beyond latin-1
      1 -> Gen.choose(0x10000, 0x1f9ff)  // astral (surrogate pairs)
    )).map(_.flatMap(Character.toChars(_)).mkString)
    val win = graft.mm.Multimodal.AudioStub.WIN
    val strs = samples(genStr, 60) :+ "" :+ "a" :+ ("x" * (win * 3))
    // independent recount: code points in order, window fold
    def recount(t: String): Seq[Long] = {
      val cps = t.codePoints().toArray
      cps.grouped(win).map(_.map { cp =>
        val v = cp.toLong - 128L; v * v
      }.sum).toSeq
    }
    val got = strs.toDF("text")
      .select(graft.functions.AudioFunctions
        .audioEnergies(col("text"), win).as("en"))
      .collect().map(_.getSeq[Long](0).toSeq)
    strs.zip(got).foreach { case (t, g) =>
      assert(g == recount(t), s"kernel diverges on ${t.take(40).toList}")
    }
  }

  test("DeletionNeighborhood kernel equals the HOF del1Of reference " +
      "form as a SET on hostile generated strings, at both depths") {
    val genStr: Gen[String] = Gen.listOf(Gen.frequency(
      8 -> Gen.choose(97, 122),
      2 -> Gen.oneOf(Seq(32, 35, 48, 57, 0xe9, 0x4e2d))  // space,#,digits,é,中
    )).map(_.flatMap(Character.toChars(_)).mkString).map(_.take(12))
    val strs = (samples(genStr, 40) :+ "" :+ "aa" :+ "Supplier#000000001").distinct
    for (maxDist <- Seq(1, 2)) {
      val d1 = graft.dedup.Dedup.del1Of("s")
      val nbhd =
        if (maxDist == 1) s"array_distinct(concat(array(s), $d1))"
        else s"""array_distinct(concat(array(s), $d1,
                   flatten(transform($d1, v -> ${graft.dedup.Dedup.del1Of("v")}))))"""
      val df = strs.toDF("s")
        .select(col("s"), expr(nbhd).as("hof"),
          graft.functions.StringFunctions
            .deletionNeighborhood(col("s"), maxDist).as("kern"))
        .collect()
      df.foreach { r =>
        val (hof, kern) = (r.getSeq[String](1).toSet, r.getSeq[String](2).toSet)
        assert(kern == hof,
          s"maxDist=$maxDist s=${r.getString(0)}: kernel ${kern.size} vs hof ${hof.size}")
      }
    }
  }
}
