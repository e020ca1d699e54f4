package graft

import org.scalatest.prop.TableDrivenPropertyChecks

/** Port of the reference's golden test plus the chunking invariants
  * (SURVEY.md §5). Golden fixture: t/01_basic.t:7-14 — 4 chunks × 1,000
  * elements, all 5.5; asserts sum==22000, avg==5.5, num==4000 exactly
  * (t/01_basic.t:49-51). */
// Top-level so Spark's closure cleaner never drags the (non-serializable)
// suite instance into the shipped mapper.
private object EngineFixture {
  case class Agg(sum: Double, num: Long, avg: Double)

  val q1Mapper: Iterator[Double] => Agg = { it =>
    var sm = 0.0; var n = 0L
    while (it.hasNext) { sm += it.next(); n += 1 }
    Agg(sm, n, if (n == 0) 0.0 else sm / n)
  }

  val q1Reducer: IndexedSeq[Agg] => Agg = { parts =>
    val sm = parts.map(_.sum).sum
    val n = parts.map(_.num).sum
    Agg(sm, n, sm / n)
  }
}

class EngineSpec extends SparkSpec with TableDrivenPropertyChecks {
  import spark.implicits._
  import EngineFixture._

  test("golden t/01_basic.t: 4x1000 constant 5.5 -> sum 22000, avg 5.5, num 4000") {
    val data = Engine.chunk(
      spark.createDataset(Seq.fill(4000)(5.5)), 4, Engine.ElementSequential)
    assert(data.rdd.getNumPartitions === 4)
    val got = Engine.mapReduce[Double, Agg, Agg](data, q1Mapper, q1Reducer)
    assert(got.sum === 22000.0)
    assert(got.avg === 5.5)
    assert(got.num === 4000L)
  }

  test("same golden via pure DataFrame aggregation") {
    import org.apache.spark.sql.functions._
    val row = spark.createDataset(Seq.fill(4000)(5.5)).toDF("v")
      .agg(sum($"v"), avg($"v"), count($"v")).head()
    assert(row.getDouble(0) === 22000.0)
    assert(row.getDouble(1) === 5.5)
    assert(row.getLong(2) === 4000L)
  }

  private val methods = Table("method",
    Engine.VolumeUniform, Engine.ElementShuffle, Engine.ElementSequential)

  test("chunk is an exact partition of the input, for every method") {
    val input = (1 to 997).map(_.toDouble)
    forAll(methods) { m =>
      val chunked = Engine.chunk(spark.createDataset(input), 7, m)
      assert(chunked.rdd.getNumPartitions === 7)
      assert(chunked.collect().sorted === input.toArray)
    }
  }

  test("chunk balances counts within 1 element for round-robin methods") {
    val input = (1 to 1000).map(_.toDouble)
    forAll(methods) { m =>
      val sizes = Engine.chunk(spark.createDataset(input), 8, m)
        .rdd.glom().map(_.length).collect()
      assert(sizes.max - sizes.min <= 1, s"method $m sizes ${sizes.toSeq}")
    }
  }

  test("result is invariant under chunk_num and method for associative reduce") {
    val input = (1 to 500).map(_.toDouble)
    val expect = input.sum
    forAll(methods) { m =>
      for (n <- Seq(1, 3, 16)) {
        val ds = Engine.chunk(spark.createDataset(input), n, m)
        val got = Engine.mapReduceAssociative[Double, Double](
          ds, _.sum, _ + _)
        assert(got === expect, s"method $m chunks $n")
      }
    }
  }

  test("skipNullResults drops null map outputs like skip_undef_result") {
    val ds = Engine.chunk(spark.createDataset((1 to 100).map(_.toDouble)), 4)
    // Pinned fixture: exactly the one chunk containing 1.0 maps to null
    // (stand-in for the reference's undef-returning mappers,
    // Simple.pm:328-335) — independent of how chunking assigns the rest.
    def mapper(it: Iterator[Double]): java.lang.Double = {
      val xs = it.toVector
      if (xs.contains(1.0)) null else java.lang.Double.valueOf(xs.sum)
    }
    val got = Engine.mapReduce[Double, java.lang.Double, Int](
      ds, mapper, parts => parts.length)
    val all = Engine.mapReduce[Double, java.lang.Double, Int](
      ds, mapper, parts => parts.length,
      Engine.MRConfig(skipNullResults = false))
    assert(all === 4)
    assert(got === 3)
  }

  test("non-associative reducer sees all outputs at once (parity semantics)") {
    val ds = Engine.chunk(spark.createDataset((1 to 40).map(_.toDouble)), 4)
    // median-of-chunk-sums: only well-defined with the full outputs array
    val got = Engine.mapReduce[Double, Double, Double](
      ds, _.sum, parts => parts.sorted.apply(parts.length / 2))
    assert(got > 0)
  }

  /** `xs` as a Dataset split into `parts` input partitions, order kept. */
  private def dsOf(xs: Seq[Long], parts: Int) =
    spark.createDataset(spark.sparkContext.parallelize(xs, parts))

  private def shuffledChunks(xs: Seq[Long], n: Int, parts: Int, seed: Long) =
    Engine.chunk(dsOf(xs, parts), n, Engine.ElementShuffle, seed)
      .rdd.glom().collect().map(_.toSeq).toSeq

  // 0, 1, 2, a prime, and both sides of the Feistel domain's 4^k steps
  private val shuffleSizes = Seq(0, 1, 2, 997, 255, 256, 257, 1023, 1024, 1025)

  test("ElementShuffle's scramble is a bijection on [0, N)") {
    for (size <- shuffleSizes ++ (3 to 70); seed <- Seq(0L, 42L, -7L)) {
      val perm = new Engine.Scramble(size, seed)
      assert((0 until size).map(i => perm(i.toLong)).sorted ===
        (0 until size).map(_.toLong), s"N=$size seed=$seed")
    }
  }

  test("ElementShuffle is an exact partition balanced within 1, on 1 and several input partitions") {
    for (size <- shuffleSizes; parts <- Seq(1, 5)) {
      val xs = (0 until size).map(_.toLong)
      val chunks = shuffledChunks(xs, 7, parts, 42L)
      assert(chunks.length === 7)
      assert(chunks.flatten.sorted === xs, s"N=$size parts=$parts")
      val sizes = chunks.map(_.length)
      assert(sizes.max - sizes.min <= 1, s"N=$size parts=$parts sizes $sizes")
    }
  }

  test("ElementShuffle membership is fixed by the seed and the input order") {
    val xs = (0 until 997).map(_.toLong)
    def members(parts: Int, seed: Long) =
      shuffledChunks(xs, 8, parts, seed).map(_.toSet)
    val base = members(1, 42L)
    assert(members(1, 42L) === base, "same seed, same chunks")
    assert(members(4, 42L) === base, "input partitioning must not matter")
    assert(members(1, 43L) !== base, "a different seed must deal differently")
    assert(base !== xs.groupBy(_ % 8).toSeq.sortBy(_._1).map(_._2.toSet),
      "a shuffle must not deal in input order")
  }
}
