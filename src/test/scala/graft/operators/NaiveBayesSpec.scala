package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The trained multinomial NB filter (q242's operator): signal
  * recovery, the empty-document path, the additive-state contract the
  * streaming monitor rides, and the bounded model shape. */
class NaiveBayesSpec extends SparkSpec {
  import spark.implicits._

  private val train = Seq(
    (1L, "apple apple pie with apple", "fruit"),
    (2L, "apple tart and apple juice", "fruit"),
    (3L, "banana apple smoothie", "fruit"),
    (4L, "gears and steel gears grinding", "metal"),
    (5L, "steel beam with steel bolts", "metal"),
    (6L, "iron gears and a steel rig", "metal")).toDF("id", "text", "cls")

  test("recovers a clearly separable signal on held-out text") {
    val model = NaiveBayes.fit(train, "text", "cls")
    val test = Seq(
      (10L, "apple banana snack"), (11L, "steel iron gears"),
      (12L, "a pie of apple and banana")).toDF("id", "text")
    val got = NaiveBayes.classify(test, "id", "text", model)
      .as[(Long, String)].collect().toMap
    assert(got(10L) === "fruit")
    assert(got(11L) === "metal")
    assert(got(12L) === "fruit")
  }

  test("an empty document falls back to the prior argmax") {
    // 2:1 prior toward fruit once one metal doc is dropped
    val model = NaiveBayes.fit(train.filter(col("id") =!= 6L), "text", "cls")
    val got = NaiveBayes.classify(
        Seq((20L, ""), (21L, "   ")).toDF("id", "text"), "id", "text", model)
      .as[(Long, String)].collect().toMap
    assert(got(20L) === "fruit")
    assert(got(21L) === "fruit")
  }

  test("a NULL id gets one row, whether or not its docs carry tokens") {
    // 3:2 prior toward fruit, so the prior-only branch would say fruit
    val model = NaiveBayes.fit(train.filter(col("id") =!= 6L), "text", "cls")
    val docs = Seq[(Option[Long], String)](
        (Some(30L), "apple pie"), (None, "steel gears"), (None, ""),
        (Some(31L), "")).toDF("id", "text")
    val got = NaiveBayes.classify(docs, "id", "text", model)
      .as[(Option[Long], String)].collect()
    assert(got.map(_._1).toSeq.sorted === Seq(None, Some(30L), Some(31L)))
    // the NULL id's tokenized doc decides its label, not the prior
    assert(got.toMap.apply(None) === "metal")
  }

  test("an empty model is refused, not NULL-predicted") {
    val empty = NaiveBayes.fit(train.filter(lit(false)), "text", "cls")
    val docs = Seq((40L, "apple pie"), (41L, "")).toDF("id", "text")
    val e = intercept[IllegalArgumentException] {
      NaiveBayes.classify(docs, "id", "text", empty).collect()
    }
    assert(e.getMessage.contains("empty model"))
  }

  test("a model missing a (label, bucket) row is refused") {
    val model = NaiveBayes.fit(train, "text", "cls")
    val sparse = model.filter(!(col("label") === "metal" && col("b") === 7L))
    val docs = Seq((50L, "steel gears")).toDF("id", "text")
    val e = intercept[IllegalArgumentException] {
      NaiveBayes.classify(docs, "id", "text", sparse).collect()
    }
    assert(e.getMessage.contains("label metal is not dense"))
  }

  test("training state is additive: union of deltas == one-shot fit") {
    val d1 = train.filter(col("id") <= 3L)
    val d2 = train.filter(col("id") > 3L)
    val fromDeltas = NaiveBayes.modelFromState(
        NaiveBayes.trainState(d1, "text", "cls")
          .unionByName(NaiveBayes.trainState(d2, "text", "cls")))
      .as[(String, Long, Long)].collect().toSet
    val oneShot = NaiveBayes.fit(train, "text", "cls")
      .as[(String, Long, Long)].collect().toSet
    assert(fromDeltas === oneShot)
  }

  test("model shape is bounded: labels x (Dim + 1) rows, whatever the corpus") {
    val model = NaiveBayes.fit(train, "text", "cls").collect()
    assert(model.length === 2 * (NaiveBayes.Dim + 1))
  }

  test("argmax tie-break is deterministic toward the largest label") {
    // two classes with IDENTICAL training text — every score ties, so
    // the pinned row_number order (score DESC, label DESC) must pick
    // the larger label on every engine
    val sym = Seq((1L, "same words here", "aa"), (2L, "same words here", "zz"))
      .toDF("id", "text", "cls")
    val model = NaiveBayes.fit(sym, "text", "cls")
    val got = NaiveBayes.classify(
        Seq((9L, "same words here")).toDF("id", "text"), "id", "text", model)
      .as[(Long, String)].collect().toMap
    assert(got(9L) === "zz")
  }

  test("classify refuses a model past MaxLabels x (Dim+1) rows and accepts one at it") {
    def model(labels: Int) = (0 until labels).flatMap { l =>
      (NaiveBayes.DocCountBucket +: (0L until NaiveBayes.Dim)).map(b => (s"l$l", b, 0L))
    }.toDF("label", "b", "w")
    val docs = Seq((1L, "some words")).toDF("id", "text")
    assert(NaiveBayes.classify(docs, "id", "text", model(NaiveBayes.MaxLabels)).count() === 1L)
    val e = intercept[IllegalArgumentException] {
      NaiveBayes.classify(docs, "id", "text", model(NaiveBayes.MaxLabels + 1))
    }
    assert(e.getMessage.contains("labels x (Dim+1) driver bound"), e.getMessage)
  }
}
