package graft.functions

import graft.TestSession
import graft.llm.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Property-based bit-exactness of the fused native expressions against
  * their HOF references over RANDOM inputs — the fixed-document specs in
  * `MinHashSpec` pin real-corpus behavior; these pin arbitrary token
  * shapes (unicode, repeats, singletons, long runs).
  */
object NativeHofProps extends Properties("NativeVsHof") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = TestSession.spark
  import spark.implicits._

  private val token: Gen[String] =
    Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)).suchThat(_.nonEmpty),
      Gen.oneOf("aa", "bb", "Ω", "héllo", "x"))

  private val docsGen: Gen[List[Seq[String]]] =
    Gen.listOfN(6, Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, token).map(_.toSeq)))

  property("minhash signature: native == hof") = Prop.forAll(docsGen) { docs =>
    val df = docs.toDF("toks")
    df.select(
      Dedup.minHash(col("toks"), 16).as("n"),
      HofForms.minHashHof(col("toks"), 16).as("h"))
      .filter(col("n") =!= col("h")).count() == 0
  }

  property("simhash bits: native == hof") = Prop.forAll(docsGen) { docs =>
    val df = docs.toDF("toks")
    df.select(
      Dedup.simHashBits(col("toks")).as("n"),
      HofForms.simHashBitsHof(col("toks")).as("h"))
      .filter(col("n") =!= col("h")).count() == 0
  }

  property("winnowing fingerprints: native == hof") = Prop.forAll(docsGen) { docs =>
    val df = docs.map(_.mkString(" ")).toDF("text")
    df.select(
      TextAnalysis.winnowingFingerprints(col("text"), 3, 4).as("n"),
      HofForms.winnowingFingerprintsHof(col("text"), 3, 4).as("h"))
      .filter(col("n") =!= col("h")).count() == 0
  }

  private val floatGen: Gen[Float] =
    Gen.chooseNum(-100, 100).map(n => n / 7.0f)

  private val vecsGen: Gen[(Int, List[Array[Float]])] = for {
    dim <- Gen.choose(1, 48)
    n <- Gen.choose(1, 5)
    vecs <- Gen.listOfN(n, Gen.listOfN(dim, floatGen).map(_.toArray))
  } yield (dim, vecs)

  property("hyperplane signature: native == column tree") = Prop.forAll(vecsGen) {
    case (dim, vecs) =>
      val df = vecs.map(Tuple1(_)).toDF("emb")
      df.select(
        Native.hyperplaneSignature(col("emb"), 8, dim).as("n"),
        graft.llm.Similarity.hyperplaneSignatureTree(col("emb"), 8, dim).as("t"))
        .filter(col("n") =!= col("t")).count() == 0
  }

  private val sigPairGen: Gen[List[(Seq[Long], Seq[Long])]] = for {
    k <- Gen.choose(1, 64)
    n <- Gen.choose(1, 5)
    // small value domain forces slot agreements
    pairs <- Gen.listOfN(n, for {
      a <- Gen.listOfN(k, Gen.choose(0L, 3L))
      b <- Gen.listOfN(k, Gen.choose(0L, 3L))
    } yield (a.toSeq, b.toSeq))
  } yield pairs

  property("minhash similarity: native agreement == hof") = Prop.forAll(sigPairGen) { pairs =>
    val k = pairs.head._1.size
    val df = pairs.toDF("a", "b")
    df.select(
      Dedup.minHashSimilarity(col("a"), col("b"), k).as("n"),
      HofForms.minHashSimilarityHof(col("a"), col("b"), k).as("h"))
      .filter(col("n") =!= col("h")).count() == 0
  }

  private val centsGen: Gen[(Int, Array[Array[Float]], List[Array[Float]])] = for {
    dim <- Gen.choose(1, 24)
    k <- Gen.choose(1, 12)
    cents <- Gen.listOfN(k, Gen.listOfN(dim, floatGen).map(_.toArray))
    vecs <- Gen.listOfN(3, Gen.listOfN(dim, floatGen).map(_.toArray))
  } yield (dim, cents.toArray, vecs)

  property("nearest centroids: native == scala reference") = Prop.forAll(centsGen) {
    case (dim, cents, vecs) =>
      def reference(e: Array[Float], nprobe: Int): Seq[Int] = {
        val sims = cents.map { c =>
          var dot = 0.0; var nx = 0.0; var ny = 0.0
          var i = 0
          while (i < math.min(dim, c.length)) {
            dot += e(i).toDouble * c(i).toDouble
            nx += e(i).toDouble * e(i).toDouble; ny += c(i).toDouble * c(i).toDouble
            i += 1
          }
          val s = dot / (math.sqrt(nx) * math.sqrt(ny))
          if (s.isNaN) -2.0 else s
        }
        Array.range(0, cents.length)
          .sortWith((a, b) => sims(a) > sims(b) || (sims(a) == sims(b) && a < b))
          .take(nprobe).toSeq
      }
      val nprobe = math.min(3, cents.length)
      val got = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "emb")
        .select(col("id"), Native.nearestCentroids(col("emb"), cents, nprobe).as("p"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      vecs.zipWithIndex.forall { case (v, i) => got(i.toLong) == reference(v, nprobe) }
  }
}
