package graft.plans

import graft.SparkSpec
import graft.sources.Snapshots
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property test for [[DimFilePruneRule]]'s soundness surface — like
  * [[graft.sources.SnapshotFileIndexPropertySpec]] pins indexed reads,
  * this pins the dim-driven cut: for ARBITRARY dim key sets (hits,
  * misses, out-of-domain values, duplicates, empty — presented at the
  * recorded width and at a NARROWER one), a plain semi-join of the
  * enabled indexed fact against the dim must return exactly the rows a
  * plain read filtered to those keys returns. The widened table drives
  * the rule's evolved tier and its era-aware bloom probe (pre-widen
  * files hashed the narrow type) under the same random key sets.
  */
class DimFilePrunePropertySpec extends SparkSpec {

  private def check(prop: Prop, minSuccessful: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minSuccessful), prop)
    assert(res.passed, res.status.toString)
  }

  // ---- fixtures (built once per suite, each table enabled) ---------------

  /** k long, range-clustered (envelopes) AND bloomed — both integral
    * evidence tiers active at once.
    */
  private lazy val factTbl: String = {
    import spark.implicits._
    val tbl = freshTable("fact")
    val df = (0L until 64L).map(i => (i, i * 10))
      .toDF("k", "v")
      .repartitionByRange(8, col("k")).sortWithinPartitions(col("k"))
    Snapshots.commit(df, tbl, statsCols = Seq("k"), bloomCols = Seq("k"))
    DimFilePrune.enable(spark, tbl)
    tbl
  }
  private lazy val factRows: Map[Long, Long] =
    Snapshots.read(spark, factTbl).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Era 1 stores k as INT (bloom hashed at int width), then k widens to
    * long and era 2 commits long rows — a key in [0,31] probes pre-widen
    * blooms, a key in [32,63] post-widen ones.
    */
  private lazy val widenTbl: String = {
    import spark.implicits._
    val tbl = freshTable("widen")
    val df = (0 until 32).map(i => (i, i * 10L)).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions(col("k"))
    Snapshots.commit(df, tbl, statsCols = Seq("k"), bloomCols = Seq("k"))
    Snapshots.widenColumn(spark, tbl, "k",
      org.apache.spark.sql.types.LongType)
    val df2 = (32L until 64L).map(i => (i, i * 10L)).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions(col("k"))
    Snapshots.commit(df2, tbl, statsCols = Seq("k"), bloomCols = Seq("k"))
    DimFilePrune.enable(spark, tbl)
    tbl
  }
  private lazy val widenRows: Map[Long, Long] =
    Snapshots.read(spark, widenTbl).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** s string with UTF-8 envelopes only — the string evidence tier. */
  private lazy val strTbl: String = {
    import spark.implicits._
    val tbl = freshTable("str")
    val df = (0 until 64).map(i => (f"s$i%03d", i.toLong)).toDF("s", "v")
      .repartitionByRange(8, col("s")).sortWithinPartitions(col("s"))
    Snapshots.commit(df, tbl, strStatsCols = Seq("s"))
    DimFilePrune.enable(spark, tbl)
    tbl
  }
  private lazy val strRows: Map[String, Long] =
    Snapshots.read(spark, strTbl).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The plain fact ⋉ dim join over the indexed read of `tbl` (per-era
    * for the widened table), collected, with the rule's cut reset first
    * so [[DimFilePrune.lastCut]] reports THIS join's rewrite (or None).
    */
  private def semiJoin(tbl: String, key: String, dim: DataFrame)
      : Seq[org.apache.spark.sql.Row] = {
    DimFilePrune.lastCut = None
    val fact =
      if (tbl == widenTbl) Snapshots.readIndexedEvolved(spark, tbl)._1
      else Snapshots.readIndexed(spark, tbl)._1
    fact.join(dim, col(key) === dim("dk"), "left_semi").collect().toSeq
  }

  // ---- generators --------------------------------------------------------

  /** Hits, boundary misses, far out-of-domain values (both signs),
    * duplicates; sized 0..12 — empty is a legal dim slice.
    */
  private val longKeys: Gen[List[Long]] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.frequency(
      5 -> Gen.choose(0L, 63L),
      2 -> Gen.choose(64L, 200L),
      1 -> Gen.choose(-50L, -1L),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, 63L))))

  private val strKeys: Gen[List[String]] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.frequency(
      5 -> Gen.choose(0, 63).map(i => f"s$i%03d"),
      2 -> Gen.choose(64, 99).map(i => f"s$i%03d"),
      1 -> Gen.oneOf("", "zzz", "a", "s"))))

  // ---- the property -------------------------------------------------------

  /** join rows ≡ driver-side filter of the full table, and a non-empty
    * dim gets the rule's rewrite. `narrow` presents the dim keys as INT
    * (dropping unrepresentable ones — a narrower dim column is exactly
    * the width mismatch the recorded-type narrowing exists for).
    */
  private def soundOn(tbl: String, full: Map[Long, Long], keys: List[Long],
      narrow: Boolean): Prop = {
    import spark.implicits._
    val ks = if (narrow) keys.filter(k => k.isValidInt) else keys
    val dim =
      if (narrow) ks.map(_.toInt).toDF("dk")
      else ks.toDF("dk")
    val got = semiJoin(tbl, "k", dim)
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toList
    val fired = DimFilePrune.lastCut.nonEmpty
    val want = ks.distinct.sorted.flatMap(k => full.get(k).map(v => (k, v)))
    Prop(got == want && (ks.isEmpty || fired)) :|
      s"keys=$ks narrow=$narrow got=$got want=$want fired=$fired"
  }

  test("plain join ≡ plain filtered read for random dim key sets " +
      "(envelopes + blooms, long and int-presented keys)") {
    check(Prop.forAll(longKeys, Gen.oneOf(true, false)) { (keys, narrow) =>
      soundOn(factTbl, factRows, keys, narrow)
    }, minSuccessful = 60)
  }

  test("plain join ≡ plain filtered read across a k int→long WIDEN " +
      "(pre-widen blooms hashed narrow; era-aware probe must not lose rows)") {
    check(Prop.forAll(longKeys, Gen.oneOf(true, false)) { (keys, narrow) =>
      soundOn(widenTbl, widenRows, keys, narrow)
    }, minSuccessful = 60)
  }

  test("plain join ≡ plain filtered read for random STRING key sets " +
      "(UTF-8 envelope tier)") {
    import spark.implicits._
    check(Prop.forAll(strKeys) { keys =>
      val got = semiJoin(strTbl, "s", keys.toDF("dk"))
        .map(r => (r.getString(0), r.getLong(1))).sorted.toList
      val fired = DimFilePrune.lastCut.nonEmpty
      val want = keys.distinct.sorted
        .flatMap(k => strRows.get(k).map(v => (k, v)))
      Prop(got == want && (keys.isEmpty || fired)) :|
        s"keys=$keys got=$got want=$want fired=$fired"
    }, minSuccessful = 60)
  }

  test("over-limit dims leave the join unpruned and exact; empty dims " +
      "keep zero files") {
    import spark.implicits._
    DimFilePrune.enable(spark, factTbl, maxKeys = 4)
    try {
      val got = semiJoin(factTbl, "k", (0L until 64L).toDF("dk"))
      assert(DimFilePrune.lastCut.isEmpty, "rule fired over maxKeys")
      assert(got.size === factRows.size)
    } finally DimFilePrune.enable(spark, factTbl)
    // a dim empty only at run time (a LocalRelation would be folded
    // away before the rule runs): every one of the 8 files is cut
    val empty = Snapshots.read(spark, factTbl).filter(col("k") < 0)
      .select(col("k").as("dk"))
    assert(semiJoin(factTbl, "k", empty).isEmpty)
    assert(DimFilePrune.lastCut.exists(c => c._2 == 0 && c._3 == 8),
      s"expected all 8 files cut: ${DimFilePrune.lastCut}")
  }
}
