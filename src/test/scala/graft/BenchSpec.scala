package graft

class BenchSpec extends SparkSpec {

  test("interleaved: rep-major runs, a throwing run reads None and the loop goes on, reset after every run") {
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    val reported = scala.collection.mutable.ArrayBuffer[(Int, String, Boolean)]()
    var builds = Map("a" -> 0, "b" -> 0)
    // b's first build throws; every other build is a real one-job count
    def run(key: String, failAt: Int) = key -> (() => {
      builds = builds.updated(key, builds(key) + 1)
      calls += s"$key${builds(key)}"
      if (builds(key) == failAt) throw new IllegalStateException(s"$key failed")
      spark.range(3).toDF()
    })
    val times = Bench.interleaved(Seq(run("a", failAt = 0), run("b", failAt = 1)),
        reps = 2, () => calls += "reset") { (r, key, _, failure) =>
      reported += ((r, key, failure.isDefined))
    }
    assert(calls.toSeq === Seq("a1", "reset", "b1", "reset", "a2", "reset", "b2", "reset"))
    assert(reported.toSeq ===
      Seq((1, "a", false), (1, "b", true), (2, "a", false), (2, "b", false)))
    assert(times.keySet === Set("a", "b"))
    assert(times("a").forall(_.exists(_ >= 0.0)))
    assert(times("b").head === None)
    assert(times("b")(1).exists(_ >= 0.0))
  }
}
