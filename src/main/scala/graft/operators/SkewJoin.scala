package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys (SURVEY §7.4 watch-list: village→house
  * counts are Zipfian; at 100 TB one hot 小区ID would pin a whole
  * executor).
  *
  * AQE's skew-join split handles most cases at runtime; explicit salting
  * remains the tool when the skew is known and extreme (a single key
  * larger than an executor), or when the join is followed by an
  * aggregation on the same key (AQE can't split that). Left rows get a
  * deterministic salt in [0, saltFactor); right rows are replicated
  * saltFactor× — join key becomes (key, salt), spreading each hot key
  * over saltFactor partitions.
  */
object SkewJoin {

  /** @param saltCols columns whose hash spreads same-key rows across
    *                  salt buckets. Pass the row's natural identity
    *                  (e.g. the PK columns): the default — EVERY left
    *                  column — is always correct but forces the scan to
    *                  read all of them, defeating column pruning (a
    *                  16-column fact scan for a 3-column query; the
    *                  ReadSchema regression PlanSpec pins on q57). Any
    *                  column set works for correctness — the salt only
    *                  needs to VARY across a hot key's rows to spread
    *                  them; in the worst case (constant salt cols) the
    *                  join degrades to the unsalted plan, never to a
    *                  wrong answer. Deterministic (no rand()): reruns
    *                  and speculative retries must salt identically. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      saltFactor: Int, joinType: String = "inner",
      saltCols: Seq[String] = Nil): DataFrame = {
    require(saltFactor > 0)
    val idCols = if (saltCols.nonEmpty) saltCols else left.columns.toSeq
    val salted = left.withColumn("__salt",
      pmod(xxhash64(struct(idCols.map(col): _*)), lit(saltFactor)).cast("int"))
    val replicated = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** [[saltedJoinIfSkewed]]'s hot bar in fair per-partition shares —
    * earlier than AQE's 5× the MEDIAN partition, since crossing it also
    * pins the downstream same-key aggregation AQE can't split. */
  private val SkewRatio = 2.0

  /** [[saltedJoin]] (inner) behind a measured-skew gate: ONE
    * partial-aggregated count job probes the left side's key histogram
    * (shuffle bytes = distinct keys, the count itself map-side-combines),
    * and the salted plan runs only when some key's row count exceeds
    * `max(minHotRows, SkewRatio × totalRows / shufflePartitions)` —
    * i.e. one post-shuffle partition would hold more than `SkewRatio`×
    * its fair share from that single key. Below the bar the plain join
    * runs: salting there pays `saltFactor`× right-side replication to
    * solve a problem AQE's skew split already covers (and a problem
    * that, unmeasured, usually isn't there — the r7 bench paid 25× its
    * oracle salting an unskewed key).
    *
    * The probe is one cheap extra job per call; callers that KNOW the
    * key is hot (or that join inside a loop and can't re-probe), or
    * that need an outer join, call [[saltedJoin]] directly.
    *
    * @param minHotRows absolute floor for "hot": below this row count a
    *                   key fits any executor regardless of ratio, so
    *                   tiny inputs never salt. 0 = ratio alone decides.
    */
  def saltedJoinIfSkewed(left: DataFrame, right: DataFrame, key: String,
      saltFactor: Int, saltCols: Seq[String] = Nil,
      minHotRows: Long = 0L): DataFrame = {
    val probe = left.groupBy(col(key)).agg(count(lit(1)).as("__c"))
      .agg(max(col("__c")).as("mx"), sum(col("__c")).as("n")).head()
    if (probe.isNullAt(0))
      return left.join(right, Seq(key), "inner") // empty left side
    val (mx, n) = (probe.getLong(0), probe.getLong(1))
    val parts = math.max(1, left.sparkSession.sessionState.conf.numShufflePartitions)
    val hotBar = math.max(minHotRows, (SkewRatio * n / parts).toLong)
    val hot = mx > hotBar
    System.err.println(s"[graft.skewjoin] maxKeyRows=$mx totalRows=$n " +
      s"hotBar=$hotBar path=${if (hot) "salted" else "plain"}")
    if (hot) saltedJoin(left, right, key, saltFactor, "inner", saltCols)
    else left.join(right, Seq(key), "inner")
  }
}
