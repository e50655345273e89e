package graft

import graft.operators._
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.{Row, types => T}

  private def edgeDf(edges: Seq[(Long, Option[Long])]) =
    spark.createDataFrame(
      edges.map { case (c, p) => Row(c, p.map(Long.box).orNull) }.asJava,
      T.StructType(Seq(T.StructField("child", T.LongType),
        T.StructField("parent", T.LongType))))

  test("resolveRoots follows chains to the head") {
    // 1 <- 2 <- 3 <- 4  and isolated 10 <- 11
    val roots = Joins.resolveRoots(edgeDf(Seq(
      2L -> Some(1L), 3L -> Some(2L), 4L -> Some(3L),
      1L -> None, 11L -> Some(10L), 10L -> None)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(roots == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("resolveRoots handles deep chains within the depth budget") {
    val chain = (2L to 20L).map(i => i -> Some(i - 1)) :+ (1L -> None)
    val roots = Joins.resolveRoots(edgeDf(chain), maxDepth = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 20L).forall(roots(_) == 1L))
  }

  test("resolveRoots fast path and jump factors agree with the general path") {
    val chain = (2L to 20L).map(i => i -> Some(i - 1)) :+ (1L -> None)
    val expect = Joins.resolveRoots(edgeDf(chain))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (s <- Seq(1, 2, 4)) {
      val got = Joins.resolveRoots(edgeDf(chain), edgesCoverAllNodes = true,
        jumpsPerRound = s)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"jumpsPerRound=$s")
    }
  }

  test("resolveRoots throws instead of returning mid-chain ancestors") {
    // depth 69 chain but a budget that only covers ~7: must refuse loudly
    val chain = (2L to 70L).map(i => i -> Some(i - 1)) :+ (1L -> None)
    val e = intercept[IllegalStateException] {
      Joins.resolveRoots(edgeDf(chain), maxDepth = 2, jumpsPerRound = 1)
        .collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("closurePairs respects the depth cap") {
    val pairs = Joins.closurePairs(edgeDf(Seq(
      2L -> Some(1L), 3L -> Some(2L), 4L -> Some(3L), 5L -> Some(4L),
      1L -> None)), maxDepth = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((2L, 1L, 1), (3L, 2L, 1), (4L, 3L, 1), (5L, 4L, 1),
      (3L, 1L, 2), (4L, 2L, 2), (5L, 3L, 2)))
  }

  test("asofJoin picks the latest right row at or before each left ts") {
    import spark.implicits._
    def t(sec: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1700000000L + sec))
    val probes = Seq((1L, t(0), 100L), (1L, t(50), 101L), (1L, t(100), 102L),
      (2L, t(10), 200L)).toDF("user_id", "ts", "event_id")
    val updates = Seq((1L, t(10), 1.0), (1L, t(100), 2.0), (3L, t(0), 9.0))
      .toDF("user_id", "ts", "v")
    val got = Joins.asofJoin(probes, updates, "user_id", "ts", Seq("v"))
      .select("event_id", "asof_v")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got == Map(
      100L -> None, // before any update
      101L -> Some(1.0), // latest at-or-before t=50
      102L -> Some(2.0), // equal ts matches (<= semantics)
      200L -> None)) // key with no updates at all
  }

  test("asofJoin returns the matched ROW's values, even if null, and tolerates name collisions") {
    import spark.implicits._
    def t(sec: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1700000000L + sec))
    // matched row at t=50 has v=null: DuckDB ASOF returns that row's null,
    // NOT the older non-null from t=10; w comes from the same matched row
    val probes = Seq((1L, t(60), 7.7)).toDF("user_id", "ts", "v")
    val updates = Seq((1L, t(10), Some(1.0), Some(10.0)),
      (1L, t(50), None, Some(50.0)))
      .toDF("user_id", "ts", "v", "w")
    val r = Joins.asofJoin(probes, updates, "user_id", "ts", Seq("v", "w"))
      .select("v", "asof_v", "asof_w").head()
    assert(r.getDouble(0) == 7.7) // left's own v column untouched
    assert(r.isNullAt(1)) // matched row's null, not 1.0 carried over
    assert(r.getDouble(2) == 50.0) // no cross-row mixing
  }

  test("connectedComponents labels every node with its group minimum") {
    import spark.implicits._
    // two components {1,2,3,7} (path 7-3-2-1) and {10,11}; singleton pairs
    val pairs = Seq((2L, 1L), (3L, 2L), (7L, 3L), (10L, 11L)).toDF("i", "j")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      10L -> 10L, 11L -> 10L))
    // a node whose ONLY edge is a self-pair is a singleton component
    // (Hash-Min parity, r9 advice); a self-pair on a connected node is a
    // no-op, not a duplicate label
    val withSelf = pairs.union(Seq((42L, 42L), (1L, 1L)).toDF("i", "j"))
    val gotSelf = Dedup.connectedComponents(withSelf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(gotSelf.length == gotSelf.toMap.size, "duplicate node labels")
    assert(gotSelf.toMap == got + (42L -> 42L))
  }

  test("connectedComponents regimes agree: union-find == star contraction") {
    import spark.implicits._
    // scrambled multi-round graph (same family the layout-independence
    // test pins): the driver union-find (smallGraphEdges = MaxValue) and
    // star contraction (smallGraphEdges = 0) must land identical labels —
    // the regime fork is volume control, not algebra
    val edges = (0L until 600L).map(i => (i, (i * 101 + 13) % 600))
      .filter { case (a, b) => a != b }
    val unionFind = Dedup.connectedComponentsImpl(edges.toDF("i", "j"),
      maxRounds = 16, smallGraphEdges = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Dedup.connectedComponentsImpl(edges.toDF("i", "j"),
      maxRounds = 16, smallGraphEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unionFind == star)
  }

  test("incrementalComponents equals full recompute on every merge class") {
    import spark.implicits._
    // yesterday: {1,2,3} (path), {5,6}, {8,9} — labels by min id
    val oldPairs = Seq((2L, 1L), (3L, 2L), (5L, 6L), (8L, 9L)).toDF("i", "j")
    val prev = Dedup.connectedComponents(oldPairs)
    // delta exercises each class: a new node joining an old component
    // (10-3), a pair MERGING two old components (2-5), a brand-new
    // component (11-12), and an old doc that had no pair yesterday
    // joining an old component (7-9) — with an id BELOW the component's
    // prior minimum, so {8,9}'s label itself must move to 7
    val delta = Seq((10L, 3L), (2L, 5L), (11L, 12L), (7L, 9L)).toDF("i", "j")
    val got = Dedup.incrementalComponents(prev, delta)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.connectedComponents(oldPairs.union(delta))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L, 6L -> 1L,
      10L -> 1L, 8L -> 7L, 9L -> 7L, 7L -> 7L, 11L -> 11L, 12L -> 11L))
    // scrambled 400-edge graph, ~25% of edges as the delta: still exact
    val all = (0L until 400L).map(i => (i, (i * 37 + 11) % 400))
      .filter { case (a, b) => a != b }
    val (o, d) = all.partition { case (a, b) => a % 4 != 0 && b % 4 != 0 }
    val prev2 = Dedup.connectedComponents(o.toDF("i", "j"))
    val got2 = Dedup.incrementalComponents(prev2, d.toDF("i", "j"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full2 = Dedup.connectedComponents(all.toDF("i", "j"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == full2)
    // null endpoints in the delta are dropped, not emitted as a spurious
    // (null, null) row (r9 advice)
    val nullDelta = Seq((Some(10L), Some(3L)), (Some(99L), None),
      (None, Some(2L))).toDF("i", "j")
    val gotNull = Dedup.incrementalComponents(prev, nullDelta).collect()
    assert(gotNull.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
    assert(gotNull.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 5L -> 5L, 6L -> 5L,
        8L -> 8L, 9L -> 8L))
  }

  test("byteCdcIncremental equals full recompute on every merge class") {
    import spark.implicits._
    // deterministic pseudo-random text; distinct seeds share nothing
    def txt(seed: Long, n: Int): String = {
      val sb = new StringBuilder
      var x = seed * 6364136223846793005L + 1442695040888963407L
      for (_ <- 0 until n) {
        x = x * 6364136223846793005L + 1442695040888963407L
        sb.append((('a' + math.floorMod(x >> 33, 26L)).toChar))
      }
      sb.toString
    }
    val shared = txt(1L, 400)
    val shared3 = txt(3L, 400)
    val shared24 = txt(24L, 400)
    // old day: {1,2} share a span behind different prefixes; 3, 5 alone
    val oldDocs = Seq(
      (1L, "PX" + shared), (2L, "QqqY" + shared),
      (3L, shared3), (5L, txt(5L, 400))).toDF("doc_id", "text")
    // new day: 8 joins {1,2} (byte-offset clone), 16 joins the
    // previously-unpaired 3, 24/32 form a brand-new component, 40 is
    // unpaired (must not appear in the labels)
    val newDocs = Seq(
      (8L, "Zzz" + shared), (16L, "Mm" + shared3),
      (24L, "A" + shared24), (32L, "Bbbb" + shared24),
      (40L, txt(40L, 400))).toDF("doc_id", "text")
    val oldChunks = Dedup.byteCdcChunks(oldDocs, col("doc_id"), col("text"),
      divisor = 64)
    val prevLabels = Dedup.byteCdcComponents(oldDocs, col("doc_id"),
      col("text"), divisor = 64)
    val prevReg = Dedup.byteCdcRegistry(oldChunks, minChunkLen = 16)
    val newChunks = Dedup.byteCdcChunks(newDocs, col("doc_id"), col("text"),
      divisor = 64)
    val (labels, mergedReg) =
      Dedup.byteCdcIncremental(prevLabels, prevReg, newChunks)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.byteCdcComponents(oldDocs.unionAll(newDocs),
      col("doc_id"), col("text"), divisor = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full, s"incremental $got != full $full")
    assert(got.keySet.intersect(Set(5L, 40L)).isEmpty, "unpaired docs leak")
    assert(Set(got(1L), got(2L), got(8L)) == Set(1L))
    assert(Set(got(3L), got(16L)) == Set(3L))
    assert(Set(got(24L), got(32L)) == Set(24L))
    // the merged registry is exactly the full-corpus registry, so a
    // SECOND day folds from the incremental state with no drift
    val fullReg = Dedup.byteCdcRegistry(
      Dedup.byteCdcChunks(oldDocs.unionAll(newDocs), col("doc_id"),
        col("text"), divisor = 64), minChunkLen = 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mergedReg.collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap == fullReg)
  }

  test("connectedComponents throws when diameter exceeds the round budget") {
    import spark.implicits._
    // the round budget bounds star contraction only (smallGraphEdges = 0
    // forces it); the driver union-find runs no rounds
    val longPath = (1L until 12L).map(i => (i + 1, i)).toDF("i", "j")
    intercept[IllegalStateException] {
      Dedup.connectedComponentsImpl(longPath, maxRounds = 2,
        smallGraphEdges = 0L).collect()
    }
    // and converges fine with budget
    val ok = Dedup.connectedComponentsImpl(longPath, maxRounds = 16,
        smallGraphEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 12L).forall(ok(_) == 1L))
  }

  test("connectedComponents settles an adversarial path graph within default budget") {
    import spark.implicits._
    // a 2048-node path has diameter 2047 — one-hop flooding would need
    // 2047 rounds; star contraction must settle it in ~log n rounds,
    // well inside the default 16-round budget, without raising
    val n = 2048L
    val path = (1L until n).map(i => (i + 1, i)).toDF("i", "j")
    for (smallGraphEdges <- Seq(Long.MaxValue, 0L)) {
      val labels = Dedup.connectedComponentsImpl(path, maxRounds = 16,
          smallGraphEdges = smallGraphEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels.size == n && labels.values.forall(_ == 1L),
        s"smallGraphEdges = $smallGraphEdges")
    }
  }

  test("connectedComponents is independent of id layout (scrambled paths and cycles)") {
    import spark.implicits._
    // REGRESSION (r9): the previous Hash-Min + pointer-jump core
    // converged in O(log d) only when id order correlated with graph
    // distance — compression chains follow LABELS, which on a
    // scrambled-id graph point to random positions, degrading to
    // one-hop flooding. This exact 199-node path (position p holds id
    // (p*173+37) mod 199) blew the 16-round budget; star contraction
    // must settle it, and the scrambled 80-cycles, within the default.
    val ids = (0L until 199L).map(p => (p * 173 + 37) % 199)
    val path = (0 until 198).map(p => (ids(p), ids(p + 1))).toDF("i", "j")
    // permutation graph x -> 37x+11 mod 400: four 80-cycles + five
    // 16-cycles with interleaved ids
    val cyc = (0L until 400L).map(i => (i, (i * 37 + 11) % 400))
      .filter { case (a, b) => a != b }.toDF("i", "j")
    for (smallGraphEdges <- Seq(Long.MaxValue, 0L)) {
      val got = Dedup.connectedComponentsImpl(path, maxRounds = 16,
          smallGraphEdges = smallGraphEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == 199 && got.values.forall(_ == 0L),
        s"smallGraphEdges = $smallGraphEdges")
      val gotC = Dedup.connectedComponentsImpl(cyc, maxRounds = 16,
          smallGraphEdges = smallGraphEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotC.size == 400 && gotC.values.toSet.size == 9,
        s"smallGraphEdges = $smallGraphEdges")
    }
  }

  test("deterministic sampling is reproducible and rate-monotone") {
    import spark.implicits._
    val df = (1L to 2000L).toDF("id")
    val a = Sampling.deterministicSample(df, col("id"), 0.3)
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.deterministicSample(df, col("id"), 0.3)
      .collect().map(_.getLong(0)).toSet
    assert(a == b) // pure function of id: identical across runs
    assert(math.abs(a.size / 2000.0 - 0.3) < 0.05) // near the nominal rate
    val wider = Sampling.deterministicSample(df, col("id"), 0.6)
      .collect().map(_.getLong(0)).toSet
    assert(a.subsetOf(wider)) // nested samples: raising the rate only adds
  }

  test("mixToProportions downsamples to the binding source's budget") {
    val docs = Tables.documents(spark, testDataDir)
      .select(col("doc_id"), col("lang"))
    val targets = Map("en" -> 0.5, "es" -> 0.3, "de" -> 0.2)
    val (sampled, rates) = Sampling.mixToProportions(
      docs, col("doc_id"), col("lang"), targets)
    // rates are valid probabilities and the binding source keeps rate 1.0
    assert(rates.values.forall(r => r > 0 && r <= 1.0 + 1e-9))
    assert(rates.values.exists(r => math.abs(r - 1.0) < 1e-9))
    val got = sampled.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet.subsetOf(targets.keySet)) // untargeted sources dropped
    // realized mixture tracks the targets within hash noise
    val total = got.values.sum.toDouble
    targets.foreach { case (k, t) =>
      assert(math.abs(got.getOrElse(k, 0L) / total - t) < 0.2, s"$k")
    }
  }

  test("packSequences bins respect capacity boundaries and determinism") {
    import spark.implicits._
    val docs = (1L to 500L).map(i => (i, s"w ${"x " * (i % 60).toInt}".trim))
      .toDF("doc_id", "text")
    val packed = Packing.packSequences(docs, col("doc_id"),
      size(split(col("text"), " ")).cast("long"), shards = 4, capacity = 100L)
      .collect()
    // a doc's start offset always lies inside its bin
    assert(packed.forall(r => r.getAs[Long]("bin_offset") >= 0 &&
      r.getAs[Long]("bin_offset") < 100L))
    // bins are monotone in id within a shard (greedy order is stable)
    packed.groupBy(_.getAs[Int]("shard")).values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("doc_id")).map(_.getAs[Long]("bin"))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b })
    }
    // deterministic: a second run produces identical assignments
    val again = Packing.packSequences(docs, col("doc_id"),
      size(split(col("text"), " ")).cast("long"), shards = 4, capacity = 100L)
      .collect()
    assert(packed.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("jaccard of arrays") {
    import spark.implicits._
    val r = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("a", "b")
      .select(Dedup.jaccard(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(r - 0.5) < 1e-12)
  }

  test("shingles builds distinct word n-grams and guards short docs") {
    import spark.implicits._
    val res = Seq("a b c d", "a b").toDF("text")
      .select(Dedup.shingles(col("text"), 3)).as[Seq[String]].collect()
    assert(res(0) == Seq("a b c", "b c d"))
    assert(res(1).isEmpty)
  }

  test("minhashSignature (column form) agrees with the LSH pipeline's hashes") {
    import spark.implicits._
    val docs = Tables.documents(spark, testDataDir).filter(col("doc_id") < 20)
    val viaColumn = docs
      .select(col("doc_id"), Dedup.minhashSignature(
        Dedup.shingles(col("text"), 3), 8).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val aggCols = Dedup.MinhashA.indices.map(j =>
      min((lit(Dedup.MinhashA(j)) * col("h") + lit(Dedup.MinhashB(j)))
        % Dedup.MinhashP).as(s"mh$j"))
    val viaExplode = Dedup.shingleRows(docs, col("doc_id"), col("text"), 3)
      .select(col("doc_id"),
        Dedup.hash60(col("s")).bitwiseAND(lit(Dedup.MinhashMask)).as("h"))
      .groupBy("doc_id")
      .agg(aggCols.head, aggCols.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    assert(viaColumn.keySet == viaExplode.keySet)
    viaColumn.foreach { case (id, sig) =>
      assert(sig == viaExplode(id), s"doc $id")
    }
  }

  test("minhashLshPairs under duplicate multiplicity equals the uncollapsed reference") {
    // the sf10 shape: every doc replicated many times with fresh ids. The
    // collapsed pipeline (one representative per shingle set through the
    // band join / verify, pairs re-expanded afterwards) must emit exactly
    // the pair set the per-doc reference does — including all intra-group
    // pairs at jaccard 1.0 and cross-group pairs at the representative's
    // jaccard — while the quadratic machinery only ever sees unique sets.
    import spark.implicits._
    val base = Tables.documents(spark, testDataDir)
      .filter(col("doc_id") < 8).select(col("doc_id"), col("text"))
    val replicated = (0 until 12).map(c =>
      base.select((col("doc_id") + lit(c * 1000)).as("doc_id"), col("text")))
      .reduce(_ union _)
    val got = Dedup.minhashLshPairs(replicated, col("doc_id"), col("text"),
        shingleSize = 3, numHashes = 8, bands = 4, threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    // uncollapsed reference: per-doc band keys, all-pairs on shared bands,
    // exact jaccard — small enough here (96 docs) to run directly
    val sh = replicated.select(col("doc_id"),
      Dedup.shingles(col("text"), 3).as("sh"))
    val bk = sh.select(col("doc_id"), explode(Dedup.bandKeys(
      Dedup.minhashSignature(col("sh"), 8), 4, 2)).as("band_key"))
    val cands = bk.as("a").join(bk.as("b"),
        col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j")).distinct()
    val want = cands
      .join(sh.select(col("doc_id").as("i"), col("sh").as("sh_i")), "i")
      .join(sh.select(col("doc_id").as("j"), col("sh").as("sh_j")), "j")
      .withColumn("jac", Dedup.jaccard(col("sh_i"), col("sh_j")))
      .filter(col("jac") >= 0.3)
      .select(col("i"), col("j"), col("jac"))
      .as[(Long, Long, Double)].collect().toSet
    assert(want.nonEmpty, "reference produced no pairs — corpus too small")
    assert(got == want)
    // and the dup groups really did collapse: intra-group pairs all at 1.0
    val intra = got.filter { case (i, j, _) => i % 1000 == j % 1000 }
    assert(intra.size == 8 * 12 * 11 / 2)
    assert(intra.forall(_._3 == 1.0))
  }

  test("nearDupComponents equals components over the expanded pair list") {
    // group-level label propagation (rep graph only) must produce the
    // same (node, component) set as running connectedComponents on the
    // full per-doc pair expansion — including multiplicity-only groups
    // (nodes via intra pairs, no cross edge) and chained cross groups
    import spark.implicits._
    val base = Tables.documents(spark, testDataDir)
      .filter(col("doc_id") < 30).select(col("doc_id"), col("text"))
    val replicated = base.union(
      base.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 5000).as("doc_id"), col("text")))
    val viaGroups = Dedup.nearDupComponents(replicated,
        col("doc_id"), col("text"),
        shingleSize = 3, numHashes = 8, bands = 4, threshold = 0.3)
      .as[(Long, Long)].collect().toSet
    val viaExpansion = Dedup.connectedComponents(
        Dedup.minhashLshPairs(replicated, col("doc_id"), col("text"),
          shingleSize = 3, numHashes = 8, bands = 4, threshold = 0.3)
          .select(col("i"), col("j")))
      .as[(Long, Long)].collect().toSet
    assert(viaExpansion.nonEmpty, "corpus produced no components")
    assert(viaGroups == viaExpansion)
    // the duplicated docs really are nodes labeled by their originals
    assert(viaGroups.exists { case (n, c) => n >= 5000 && c < 5000 })
  }

  // the near-dup corpus of the test above: the first 30 docs plus a
  // second copy of every third one (multiplicity-2 groups)
  private def replicatedDocs = {
    val base = Tables.documents(spark, testDataDir)
      .filter(col("doc_id") < 30).select(col("doc_id"), col("text"))
    base.union(base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 5000).as("doc_id"), col("text")))
  }

  test("nearDupComponents node gate equals the paired-fingerprint formulation") {
    import spark.implicits._
    // reference: a group is a node iff its multiplicity is >= 2 (only
    // when threshold <= 1) or its fingerprint is an endpoint of a
    // verified rep pair — read off the pairs themselves, as a second
    // evaluation of the candidate/verify pipeline
    def reference(df: org.apache.spark.sql.DataFrame, threshold: Double) = {
      val (members, repPairs) = Dedup.minhashLshGrouped(df,
        col("doc_id"), col("text"), threshold = threshold)
      val repOf = members.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("m"))
      val comps = Dedup.connectedComponents(repPairs.select(col("i"), col("j")))
      val pairedFps = repPairs.select(col("fp_i").as("fp"))
        .union(repPairs.select(col("fp_j").as("fp"))).distinct()
      val nodeFps =
        if (threshold <= 1.0)
          repOf.filter(col("m") >= 2).select(col("fp")).union(pairedFps).distinct()
        else pairedFps
      nodeFps.join(repOf, "fp")
        .join(comps.withColumnRenamed("node", "rep"), Seq("rep"), "left")
        .select(col("fp"), coalesce(col("component"), col("rep")).as("component"))
        .join(members, "fp")
        .select(col("doc_id").as("node"), col("component"))
        .as[(Long, Long)].collect().toSet
    }
    val docs = replicatedDocs
    for (threshold <- Seq(0.3, 1.0, 1.5)) {
      val got = Dedup.nearDupComponents(docs, col("doc_id"), col("text"),
        threshold = threshold).as[(Long, Long)].collect().toSet
      val want = reference(docs, threshold)
      assert(got == want, s"threshold $threshold")
      // 0.3 has cross-group pairs, 1.0 only multiplicity groups, 1.5 none
      assert(want.nonEmpty == (threshold <= 1.0), s"threshold $threshold")
    }
  }

  test("nearDupComponents plan reads only the members checkpoint and the labels") {
    import org.apache.spark.sql.catalyst.plans.logical.Window
    import org.apache.spark.sql.execution.LogicalRDD
    // the returned frame must not re-reference the reps checkpoint, the
    // band self-join or any round checkpoint: those blocks would stay
    // reachable (held in storage) for as long as the frame is. Under the
    // driver-gather ceiling the labels are a local relation.
    assume(Env.driverGatherCeiling >= 1000L,
      "SPARK_GRAFT_CC_SMALL_EDGES forces star contraction on this corpus")
    val out = Dedup.nearDupComponents(replicatedDocs, col("doc_id"),
      col("text"), threshold = 0.3)
    val plan = out.queryExecution.optimizedPlan
    val rdds = plan.collect { case r: LogicalRDD => r }
    assert(rdds.map(_.rdd.id).distinct.size == 1,
      s"expected one LogicalRDD (members), got ${rdds.size}:\n$plan")
    assert(Set("fp", "doc_id").subsetOf(rdds.head.output.map(_.name).toSet))
    assert(plan.collect { case w: Window => w }.isEmpty, plan.toString)
  }

  test("simhashPairs banding is pigeonhole-complete vs brute-force hamming") {
    import spark.implicits._
    val sigs = Tables.documents(spark, testDataDir).limit(200)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), Dedup.simhashExpr("toks").as("simhash"))
      .localCheckpoint()
    val viaBands = Dedup.simhashPairs(sigs, bands = 4, bitsPerBand = 15,
      maxHamming = 3)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val brute = sigs.as("a").join(sigs.as("b"),
      col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= 3)
      .select(col("a.doc_id"), col("b.doc_id")).as[(Long, Long)].collect().toSet
    assert(viaBands == brute) // complete, not just a subset
    intercept[IllegalArgumentException] { // incomplete banding refused
      Dedup.simhashPairs(sigs, bands = 4, bitsPerBand = 15, maxHamming = 4)
    }
  }

  test("simhash: identical docs equal, disjoint docs differ") {
    import spark.implicits._
    val res = Seq("spark scala engine spark", "spark scala engine spark",
      "entirely different words here")
      .toDF("text").withColumn("toks", split(col("text"), " "))
      .select(Dedup.simhashExpr("toks")).as[Long].collect()
    assert(res(0) == res(1))
    assert(res(0) != res(2))
  }

  test("cosine is 1 for identical vectors, bounded otherwise") {
    import spark.implicits._
    val v = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f)),
      (Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f)))
      .toDF("a", "b")
      .select(Vectors.cosine(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(v(0) - 1.0) < 1e-12)
    assert(math.abs(v(1)) < 1e-12)
  }

  test("lshBucket is deterministic and within range") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val df = Seq(Seq.fill(64)(0.5f), Seq.fill(64)(-0.5f)).toDF("embedding")
    val b1 = df.select(Vectors.lshBucket(col("embedding"), 64, 8)).as[Long].collect()
    val b2 = df.select(Vectors.lshBucket(col("embedding"), 64, 8)).as[Long].collect()
    assert(b1.sameElements(b2))
    assert(b1.forall(b => b >= 0 && b < 256))
    assert(b1(0) + b1(1) == 255) // mirrored vectors land in complementary buckets
  }

  test("relation-type normalization and DOI pattern match the reference") {
    import spark.implicits._
    val rels = Seq("IsCitedBy", "cites", "HasVersion", "isnewversionof",
      "bogus", "obsoletes").toDF("r")
      .select(Enrich.normalizeRelationType(col("r"))).as[String].collect()
    assert(rels.toSeq == Seq("cites", "cites", "isversionof", "isversionof",
      null, "obsoletes"))
    val dois = Seq("10.5063/F1Z899CZ", "https://doi.org/10.5063/F1",
      "doi: 10.12345/abc", "10.123/tooShortPrefix", "urn:uuid:42",
      "  10.5063/ok",
      "10.1000.10/123", // DOI handbook example (reference's regex rejects it)
      "doiXorg/10.1234/x") // unescaped-dot hole in the reference's regex
      .toDF("d")
      .select(Enrich.isDoiLike(col("d"))).as[Boolean].collect()
    assert(dois.toSeq == Seq(true, true, true, false, false, true,
      true, false))
  }

  test("UA tagging handles anchored and escaped dictionary patterns") {
    // FIXTURES §6: the COUNTER dictionaries contain anchored (`^ruby$`) and
    // escaped (`aria2\/\d`) regexes — the tagger must keep their semantics
    import spark.implicits._
    val pattern = "^ruby$|aria2/\\d|(?i)bot"
    val res = Seq("ruby", "ruby 3.2", "aria2/1.35", "aria2/x", "GoogleBot")
      .toDF("ua")
      .select(col("ua"), Enrich.tags(Seq(
        "robot_ua" -> col("ua").rlike(pattern))))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).nonEmpty).toMap
    assert(res == Map("ruby" -> true, "ruby 3.2" -> false,
      "aria2/1.35" -> true, "aria2/x" -> false, "GoogleBot" -> true))
  }

  test("full COUNTER UA dictionaries load and dictionary-only patterns fire") {
    import spark.implicits._
    // the shipped dicts, not a stand-in: 279 robot + 34 machine patterns
    assert(Enrich.RobotUaDict.size == 279)
    assert(Enrich.MachineUaDict.size == 34)
    val uas = Seq(
      "ADmantX Platform Semantic Analyzer", // dictionary-only plain pattern
      "ruby",            // anchored ^ruby$ — in BOTH dicts
      "Ruby",            // (?i) applies across the OR-join
      "jruby 9.4",       // anchor must survive the OR-join: no match
      "sawfish/1.3",     // class pattern [^a]fish
      "aafish",          // 'a' before "fish" → [^a]fish must NOT fire
      "PycURL")          // machine dict pattern
    val got = uas.toDF("ua").select(col("ua"),
        col("ua").rlike(Enrich.RobotUaPattern).as("robot"),
        col("ua").rlike(Enrich.MachineUaPattern).as("machine"))
      .collect().map(r => r.getString(0) -> ((r.getBoolean(1), r.getBoolean(2))))
      .toMap
    assert(got("ADmantX Platform Semantic Analyzer") == ((true, false)))
    assert(got("ruby") == ((true, true)))
    assert(got("Ruby") == ((true, true)))
    assert(got("jruby 9.4") == ((false, false)))
    assert(got("sawfish/1.3") == ((true, false)))
    assert(got("aafish") == ((false, false)))
    assert(got("PycURL")._2)
  }

  test("rangeLookup handles ranges spanning multiple buckets") {
    import spark.implicits._
    // ranges deliberately cross bucket boundaries at bucketBits = 4 (16s)
    val ranges = Seq((0L, 40L, "low"), (41L, 45L, "mid"), (100L, 260L, "high"))
      .toDF("range_start", "range_end", "payload")
    val facts = Seq(0L, 15L, 40L, 41L, 45L, 46L, 99L, 100L, 255L, 260L, 261L)
      .toDF("ip")
    val got = Enrich.rangeLookup(facts, col("ip"), ranges, bucketBits = 4)
      .select("ip", "payload").as[(Long, String)].collect().toMap
    assert(got == Map(0L -> "low", 15L -> "low", 40L -> "low",
      41L -> "mid", 45L -> "mid",
      100L -> "high", 255L -> "high", 260L -> "high"))
    // 46, 99, 261 fall in gaps: no match
  }

  test("intervalJoin: touching endpoints overlap, multi-bucket pairs dedupe") {
    import spark.implicits._
    val a = Seq((1L, 0L, 100L), (2L, 200L, 210L)).toDF("a_id", "s", "e")
    val b = Seq((10L, 100L, 150L), (11L, 211L, 220L), (12L, 0L, 300L))
      .toDF("b_id", "bs", "be")
    val got = Enrich.intervalJoin(a, b, "s", "e", "bs", "be", bucketBits = 4)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    // (1,12) spans many shared buckets — must appear exactly once
    assert(got.length == got.distinct.length)
    assert(got.toSet == Set((1L, 10L), // endpoint touch (e=100=bs) overlaps
      (1L, 12L), (2L, 12L))) // (2,11) gap of 1: no overlap
    // multiset semantics: a genuinely duplicate input row joins TWICE
    val dup = a.union(a.limit(1))
    val withDup = Enrich.intervalJoin(dup, b, "s", "e", "bs", "be",
      bucketBits = 4).select("a_id", "b_id").as[(Long, Long)].collect()
    assert(withDup.count(_ == (1L, 12L)) == 2)
  }

  test("ipInCidrs matches inside and outside ranges") {
    import spark.implicits._
    val res = Seq("10.5.1.2", "10.6.1.2", "192.168.0.1").toDF("ip")
      .select(Enrich.ipInCidrs(col("ip"), Seq("10.5.0.0/16", "192.168.0.0/24")))
      .as[Boolean].collect()
    assert(res.toSeq == Seq(true, false, true))
  }

  test("typed events edge validates schema and round-trips values") {
    val ds = Tables.eventsTyped(spark, testDataDir)
    val first = ds.orderBy("event_id").head()
    assert(first.event_id == 0L)
    assert(Set("view", "click", "purchase", "signup", "error")(first.event_type))
    // type drift fails analysis, not silently at runtime
    intercept[org.apache.spark.sql.AnalysisException] {
      import spark.implicits._
      Tables.events(spark, testDataDir)
        .drop("props").as[Event].head()
    }
  }

  test("geohash encodes known reference points") {
    import spark.implicits._
    val res = Seq(
      (57.64911, 10.40744),   // geohash.org canonical example
      (42.6, -5.6),           // ezs42
      (37.7749, -122.4194))   // San Francisco
      .toDF("lat", "lon")
      .select(Enrich.geohash(col("lat"), col("lon"), 9).as("gh9"),
        Enrich.geohash(col("lat"), col("lon"), 4).as("gh4"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(res(0)._1 == "u4pruydqq" && res(0)._2 == "u4pr")
    assert(res(1)._1.startsWith("ezs42"))
    assert(res(2)._1.startsWith("9q8yy"))
  }

  test("map ops: str_to_map round-trip and map_filter (querystring kv split)") {
    // reference: kv querystring split + country-counts dicts
    // (`search.conf:80-87`, `metricsreporter.py:216-307`)
    import spark.implicits._
    val r = Seq("q=spark&rows=25&facet=true").toDF("qs")
      .select(expr("str_to_map(qs, '&', '=')").as("m"))
      .select(
        element_at(col("m"), "rows").as("rows"),
        expr("map_keys(map_filter(m, (k, v) -> v = 'true'))").as("flags"),
        expr("map_from_entries(array(struct('US', 3), struct('DE', 1)))")
          .as("counts"))
      .head()
    assert(r.getString(0) == "25")
    assert(r.getSeq[String](1) == Seq("facet"))
    assert(r.getMap[String, Int](2)("US") == 3)
  }

  test("multimodal feature extraction preserves counts and bytes") {
    val docs = Tables.documents(spark, testDataDir)
    val feats = Multimodal.extractFeatures(
      Multimodal.mediaFromDocuments(spark, docs)).collect()
    assert(feats.length == docs.count())
    for (f <- feats) {
      assert(f.byte_histogram.length == 16)
      // histogram covers every post-header byte; header size is fixed per
      // format (PNG 33 = full IHDR chunk, JPEG 12, video none)
      val headerLen = f.mime match {
        case "image/png" => 33; case "image/jpeg" => 12; case _ => 0
      }
      assert(f.byte_histogram.sum == f.n_bytes - headerLen)
      assert(f.out_width <= 224 && f.out_height <= 224)
      // image rows round-trip their dimensions through a real header parse
      if (headerLen > 0) {
        assert(f.decoded_width == (f.media_id % 640 + 64).toInt)
        assert(f.decoded_height == (f.media_id % 480 + 48).toInt)
      } else assert(f.decoded_width == 0 && f.decoded_height == 0)
    }
  }

  test("patch grid tiles every image exactly, edges clipped") {
    val docs = Tables.documents(spark, testDataDir)
    val grid = Multimodal.patchGrid(spark, docs, patch = 32)
      .collect().groupBy(_.getLong(0))
    val nImages = docs.filter(col("doc_id") % 3 <= 1).count()
    assert(grid.size == nImages)
    for ((id, tiles) <- grid.take(2000)) {
      val (w, h) = ((id % 640 + 64).toInt, (id % 480 + 48).toInt)
      val nx = (w + 31) / 32
      val ny = (h + 31) / 32
      assert(tiles.length == nx * ny, s"media $id tile count")
      // the patch_y=0 row of tiles covers the full width, no gap/overlap
      val row0 = tiles.filter(_.getInt(2) == 0).sortBy(_.getInt(1))
      assert(row0.map(_.getInt(5)).sum == w, s"media $id width coverage")
      // every tile box stays inside the image
      assert(tiles.forall(t =>
        t.getInt(3) + t.getInt(5) <= w && t.getInt(4) + t.getInt(6) <= h))
      assert(tiles.forall(t => t.getInt(5) > 0 && t.getInt(6) > 0))
    }
    // the tiling never shuffles
    val plan = Multimodal.patchGrid(spark, docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  test("decodeImageDims parses real PNG and JPEG headers") {
    def png(w: Int, h: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(37)
      bb.put(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
        0, 0, 0, 0x0d, 'I', 'H', 'D', 'R'))
      bb.putInt(w).putInt(h)
        .put(Array[Byte](8, 6, 0, 0, 0)) // depth/color/comp/filter/interlace
        .putInt(0xdeadbeef)              // CRC (extracted around, not verified)
      bb.array()
    }
    // content offset 33 = end of the IHDR chunk including its CRC
    assert(Multimodal.decodeImageDims(png(800, 600)) == Some((800, 600, 33)))
    assert(Multimodal.decodeImageDims(png(70000, 2)) == Some((70000, 2, 33)))
    // JPEG with a fill byte, a standalone TEM marker, and an APP0 (JFIF)
    // segment BEFORE the SOF — the walker must skip fill bytes and
    // no-length markers and walk variable-length segments, not assume SOF
    // at a fixed offset
    val jpeg = java.nio.ByteBuffer.allocate(43)
      .put(Array[Byte](0xff.toByte, 0xd8.toByte))            // SOI
      .put(Array[Byte](0xff.toByte, 0xff.toByte))            // fill byte run
      .put(Array[Byte](0xff.toByte, 0x01.toByte))            // TEM: no length
      .put(Array[Byte](0xff.toByte, 0xe0.toByte, 0x00, 0x10)) // APP0 len 16
      .put(new Array[Byte](14))                              // JFIF payload
      .put(Array[Byte](0xff.toByte, 0xc2.toByte, 0x00, 0x11, 0x08)) // SOF2
      .putShort(480.toShort).putShort(640.toShort).put(3.toByte)
      .array()
    // content: SOI(2) + fill(2) + TEM(2) + APP0(2+16) + SOF2 header(10) = 34
    assert(Multimodal.decodeImageDims(jpeg) == Some((640, 480, 34)))
    // scan data reached without a frame header → clean None, not a
    // fabricated parse from entropy-coded bytes
    val scanOnly = Array[Byte](0xff.toByte, 0xd8.toByte,
      0xff.toByte, 0xda.toByte, 0x00, 0x08, 1, 2, 3, 4, 5, 6)
    assert(Multimodal.decodeImageDims(scanOnly).isEmpty)
    // non-image payloads and truncated headers decode to None
    assert(Multimodal.decodeImageDims("plain text".getBytes).isEmpty)
    assert(Multimodal.decodeImageDims(png(1, 1).take(30)).isEmpty)
    assert(Multimodal.decodeImageDims(Array[Byte](0xff.toByte, 0xd8.toByte))
      .isEmpty)
  }

  test("video frame sampling bounds the sample and gets the seek offsets right") {
    val docs = Tables.documents(spark, testDataDir)
    val frames = Multimodal.sampleVideoFrames(spark, docs).collect()
    val byClip = frames.groupBy(_.getLong(0))
    assert(byClip.nonEmpty)
    for ((_, fs) <- byClip) {
      assert(fs.length <= 8) // maxFrames bound holds per clip
      val idx = fs.map(_.getLong(1)).sorted
      assert(idx.head == 0L) // first frame always sampled
      // uniform stride: consecutive sampled indices are equidistant
      val gaps = idx.sliding(2).collect { case Array(a, b) => b - a }.toSeq
      assert(gaps.distinct.size <= 1)
      // timestamp is the index at the fixed 40 ms frame interval
      assert(fs.forall(r => r.getLong(2) == r.getLong(1) * 40))
    }
    // probe byte replays the proportional-seek arithmetic on a known clip
    val doc = docs.filter(col("doc_id") % 3 === 2).limit(1)
      .select("doc_id", "text", "n_chars").head()
    val (id, text, nChars) = (doc.getLong(0), doc.getString(1), doc.getLong(2))
    val nFrames = nChars * 100 / 40
    for (r <- byClip(id)) {
      val pos = (r.getLong(1) * text.length / nFrames).toInt
      assert(r.getInt(3) == text.charAt(pos).toInt)
    }
  }

  test("resize geometry preserves aspect ratio and never upscales") {
    assert(Multimodal.fitBox(448, 224, 224, 224) == (224, 112))
    assert(Multimodal.fitBox(100, 100, 224, 224) == (100, 100)) // no upscale
    assert(Multimodal.fitBox(1000, 10, 224, 224) == (224, 2))
    assert(Multimodal.fitBox(10, 1000, 224, 224) == (2, 224))
  }

  test("embedding LSH near-dup pairs are a verified subset of brute force") {
    val emb = Tables.embeddings(spark, testDataDir)
    val lsh = Vectors.lshNearDupPairs(emb, dim = 64, numPlanes = 4,
      threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = {
      val e = emb.select(col("vec_id"), col("embedding"))
      e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos", Vectors.cosine(col("a.embedding"), col("b.embedding")))
        .filter(col("cos") >= 0.3)
        .select(col("a.vec_id"), col("b.vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(lsh.subsetOf(brute)) // exact-cosine verification ⇒ precision 1
    // determinism: same planes, same buckets, same pairs
    val again = Vectors.lshNearDupPairs(emb, dim = 64, numPlanes = 4,
      threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == again)
  }

  test("chunkDedup keeps the globally-first occurrence and reassembles") {
    import spark.implicits._
    val df = Seq(
      0L -> "a b c d e f",  // chunks: "a b c", "d e f"
      1L -> "a b c x y z",  // "a b c" is doc0's → dropped; "x y z" kept
      2L -> "x y z",        // duplicate of doc1's kept chunk → dropped
      3L -> "p q r s"       // partial trailing chunk "s" survives alone
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(df, col("doc_id"), col("text"), chunkWords = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(0L) == ((2L, 2L, "a b c d e f")))
    assert(out(1L) == ((2L, 1L, "x y z")))
    assert(out(2L) == ((1L, 0L, "")))
    assert(out(3L) == ((2L, 2L, "p q r s")))
  }

  test("cdcChunkDedup catches duplicates that straddle fixed-window phase") {
    import spark.implicits._
    // doc 1 is doc 0's text behind a 3-word prefix: every fixed 8-word
    // window of the copy is phase-shifted, so fixed-window chunkDedup
    // drops NOTHING from it; CDC boundaries depend only on word content,
    // so the copy's chunk stream re-aligns with the original after the
    // first shared cut and the duplicated span collapses.
    val body = (1 to 64).map(i => s"w$i").mkString(" ")
    val df = Seq(0L -> body, 1L -> s"pad1 pad2 pad3 $body").toDF("doc_id", "text")

    val fixed = Dedup.chunkDedup(df, col("doc_id"), col("text"), chunkWords = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fixed(1L)._1 == fixed(1L)._2, // the documented miss class
      s"fixed-window unexpectedly caught the straddling duplicate: $fixed")

    val cdc = Dedup.cdcChunkDedup(df, col("doc_id"), col("text"), divisor = 8)
      .collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val (total, kept, text1) = cdc(1L)
    assert(kept < total, s"CDC failed to catch the straddling duplicate: $cdc")
    // only the head of the copy (prefix + words before the first shared
    // cut) may survive; every later chunk matches doc 0's and is dropped
    assert(text1.startsWith("pad1 pad2 pad3"))
    assert(cdc(0L)._1 == cdc(0L)._2) // the original keeps everything
    // alignment property: surviving text never reaches into the tail of
    // the body once a shared boundary has occurred
    assert(!text1.contains("w64") || total == kept)
  }

  test("t_repetition metrics are internally consistent") {
    val rows = SparkEntry.queries("t_repetition")(spark, testDataDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dwf = r.getAs[Double]("dup_word_frac")
      val tbf = r.getAs[Double]("top_bigram_frac")
      val dtf = r.getAs[Double]("dup_trigram_frac")
      assert(dwf >= 0 && dwf < 1)
      assert(tbf > 0 && tbf <= 1, s"bigram frac out of range: $r")
      assert(dtf >= 0 && dtf < 1)
      assert(r.getAs[String]("top_bigram").split(" ").length == 2)
      assert(r.getAs[Boolean]("keep") ==
        (dwf <= 0.60 && tbf <= 0.20 && dtf <= 0.30))
    }
  }

  test("funnelStates enforces stage order with strictly-later timestamps") {
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      (2L, 10L, "click"), (2L, 20L, "view"), (2L, 30L, "purchase"),
      (3L, 10L, "view"), (3L, 20L, "purchase"),
      (4L, 10L, "view"), (4L, 10L, "click"),
      (5L, 5L, "signup")
    ).toDF("user_id", "us", "event_type")
    val counts = MetricsKernel.funnelCounts(ev, col("user_id"), col("us"),
      col("event_type"), Seq("view", "click", "purchase")).collect().head
    // user 2's click precedes their first view → not converted; user 2's
    // purchase follows a never-reached click → not converted; user 3
    // skips click so purchase can't count; user 4's click ties the view
    // timestamp (strictly-later required); user 5 never enters
    assert(counts.getAs[Long]("n_users") == 4L)
    assert(counts.getAs[Long]("n_view") == 4L)
    assert(counts.getAs[Long]("n_click") == 1L)
    assert(counts.getAs[Long]("n_purchase") == 1L)
    val states = MetricsKernel.funnelStates(ev, col("user_id"), col("us"),
      col("event_type"), Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(states(1L) == Seq(10L, 20L, 30L))
    assert(states(2L) == Seq(20L, null, null))
    assert(states(4L) == Seq(10L, null, null))
  }

  test("decodeWavHeader walks RIFF chunks and survives junk") {
    import java.nio.{ByteBuffer, ByteOrder}
    def wav(rate: Int, ch: Int, bits: Int, data: Array[Byte],
        extraChunk: Boolean): Array[Byte] = {
      val extra = if (extraChunk) 8 + 6 else 0
      val bb = ByteBuffer.allocate(44 + extra + data.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(36 + extra + data.length)
      bb.put("WAVE".getBytes)
      bb.put("fmt ".getBytes); bb.putInt(16)
      bb.putShort(1.toShort); bb.putShort(ch.toShort); bb.putInt(rate)
      bb.putInt(rate * ch * bits / 8); bb.putShort((ch * bits / 8).toShort)
      bb.putShort(bits.toShort)
      if (extraChunk) { // LIST chunk between fmt and data (odd size: pad)
        bb.put("LIST".getBytes); bb.putInt(5)
        bb.put("INFOx".getBytes); bb.put(0.toByte)
      }
      bb.put("data".getBytes); bb.putInt(data.length); bb.put(data)
      bb.array()
    }
    val payload = Array.fill[Byte](32000)(7)
    assert(Multimodal.decodeWavHeader(wav(16000, 2, 16, payload,
      extraChunk = false)) == Some((16000, 2, 16, 32000L, 500L)))
    // chunk walking: a LIST chunk between fmt and data must not break it
    assert(Multimodal.decodeWavHeader(wav(8000, 1, 16, payload,
      extraChunk = true)) == Some((8000, 1, 16, 32000L, 2000L)))
    assert(Multimodal.decodeWavHeader("RIFFjunk".getBytes ++
      Array.fill[Byte](40)(0)).isEmpty)
    assert(Multimodal.decodeWavHeader(Array.empty[Byte]).isEmpty)
    assert(Multimodal.decodeWavHeader(payload).isEmpty)
  }

  test("hll partial-merge estimate equals the direct whole-column sketch") {
    // union of same-lgK per-day sketches must estimate identically to one
    // sketch over all values — the re-aggregability the gold table relies on
    val ev = Tables.events(spark, testDataDir)
    val viaPartials = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = ev.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaPartials == direct)
  }

  test("BPE merge learning reproduces the textbook example") {
    import spark.implicits._
    // the classic BPE illustration: low×5, lower×2, newest×6, widest×3
    val wf = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("word", "freq")
    val merges = Bpe.learnMerges(wf, rounds = 4)
    // round 1: "es" appears in newest(6) + widest(3) = 9 — the known winner
    assert(merges.head == ("e", "s", 9L), s"got ${merges.head}")
    // round 2: "es"+"t" in the same words = 9
    assert(merges(1) == ("es", "t", 9L), s"got ${merges(1)}")
    // merged symbols must reproduce when replayed over the words
    val toked = Bpe.applyMerges(wf, merges.take(2))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(toked("newest") == "n e w est")
    assert(toked("widest") == "w i d est")
    assert(toked("low") == "l o w")
    // greedy left-to-right fuse on repeats: "a a a" with merge (a,a)
    val rep = Seq(("aaa", 1L)).toDF("word", "freq")
    val m2 = Bpe.learnMerges(rep, rounds = 1)
    assert(m2.head == ("a", "a", 2L)) // both adjacent positions count
    assert(Bpe.applyMerges(rep, m2).collect()(0).getString(2) == "aa a")
  }

  test("BPE scalable apply equals the replay path at 64 live-learned rounds") {
    // the per-partition rank-priority pass (the scale path for 32k-50k
    // production rule lists) must tokenize EXACTLY like the per-rule
    // regexp_replace replay — proved on the real corpus with a merge list
    // learned live at the verdict-mandated >= 64 rounds
    val wc = Tables.documents(spark, testDataDir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val merges = Bpe.learnMerges(wc, rounds = 64)
    assert(merges.nonEmpty)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    val replay = toMap(Bpe.applyMerges(
      wc.select(col("word"), col("freq").cast("long").as("freq")), merges))
    val scalable = toMap(Bpe.applyMergesScalable(wc, merges))
    assert(scalable == replay)
    // and the adversarial shapes: same-pair runs (shared-boundary fuses)
    // and rules chaining into each other
    import spark.implicits._
    val tricky = Seq(("aaaa", 1L), ("aaa", 2L), ("abab", 1L), ("baaab", 1L))
      .toDF("word", "freq")
    val m2 = Bpe.learnMerges(tricky, rounds = 8)
    assert(toMap(Bpe.applyMergesScalable(tricky, m2)) ==
      toMap(Bpe.applyMerges(tricky, m2)))
    // and the driver-local trainer must agree with the distributed one on
    // the same real corpus (cheap here; the 256-round proof is below)
    assert(Bpe.learnMergesLocal(wc, rounds = 64) == merges)
  }

  test("driver-local BPE training equals the distributed loop at 256 rounds") {
    import spark.implicits._
    // seeded corpus rich enough to sustain 256 merge rounds, with
    // multi-byte chars so the UTF-8 tie-break is exercised, squeezed into
    // one partition so the 256-round DISTRIBUTED parity run stays cheap
    val rnd = new scala.util.Random(42)
    val alphabet = "abcdefghij" + "éß中"
    val wf = Seq.fill(400) {
      (1 to (4 + rnd.nextInt(9)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }.groupBy(identity).toSeq
      .map { case (w, ws) => (w, ws.size.toLong) }
      .toDF("word", "freq").repartition(1).cache()
    val distributed = Bpe.learnMerges(wf, rounds = 256)
    val local = Bpe.learnMergesLocal(wf, rounds = 256)
    assert(distributed.size == 256, s"corpus exhausted at ${distributed.size}")
    assert(local == distributed)
    wf.unpersist()
  }

  test("BPE production-size train+apply: 2048 local rounds, scalable tokenize, lossless") {
    import spark.implicits._
    // the shapes the scale paths exist for: a vocabulary rich enough for
    // thousands of merge rounds (the replay/apply fold and the per-round
    // distributed trainer both cap out far earlier), trained driver-local
    // and applied in one per-partition pass
    val rnd = new scala.util.Random(13)
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    val wf = Seq.fill(5000) {
      (1 to (6 + rnd.nextInt(10)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }.groupBy(identity).toSeq
      .map { case (w, ws) => (w, ws.size.toLong) }.toDF("word", "freq")
    val t0 = System.nanoTime()
    val merges = Bpe.learnMergesLocal(wf, rounds = 2048)
    val trainSecs = (System.nanoTime() - t0) / 1e9
    assert(merges.size == 2048, s"vocab exhausted at ${merges.size}")
    assert(trainSecs < 30.0, f"2048 rounds took $trainSecs%.1f s")
    // winner counts never increase (a fused pair's successors can't
    // outnumber it) — the invariant the graded t_bpe_train row asserts
    assert(merges.sliding(2).forall(w => w(0)._3 >= w(1)._3))
    val toked = Bpe.applyMergesScalable(wf, merges)
    assert(toked.filter(
      translate(col("tokens"), " ", "") =!= col("word")).isEmpty)
  }

  test("BPE paths agree on non-BMP text (code points, not UTF-16 chars)") {
    import spark.implicits._
    // surrogate-pair words: a UTF-16 char split would shear these into
    // lone surrogates and the scale paths would diverge from the replay
    val wf = Seq(("😀😀", 5L), ("a😀b", 3L), ("😀a😀", 2L),
      ("😀😀😀", 1L), ("ab", 4L), ("", 1L))
      .toDF("word", "freq")
    val distributed = Bpe.learnMerges(wf, rounds = 6)
    assert(Bpe.learnMergesLocal(wf, rounds = 6) == distributed)
    assert(distributed.head._1 == "😀") // whole emoji, not half
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    val replay = toMap(Bpe.applyMerges(wf, distributed))
    assert(toMap(Bpe.applyMergesScalable(wf, distributed)) == replay)
    // the empty word (split() yields them on consecutive separators) must
    // tokenize to zero symbols on BOTH paths, not a phantom " " pair
    assert(replay("") == "")
  }

  test("scratch builds and model caches invalidate when the corpus regenerates") {
    import graft.queries.Scratch
    val in = java.nio.file.Files.createTempDirectory("graft_fp_in").toString
    def writeCorpus(n: Int): Unit = spark.range(n).toDF("id")
      .coalesce(1).write.mode("overwrite").parquet(in + "/t.parquet")
    writeCorpus(10)
    val d1 = Scratch.dir("fpspec", in)
    var builds = 0
    Scratch.buildOnce(d1) { builds += 1 }
    // same content → same scratch path → build served from cache
    assert(Scratch.dir("fpspec", in) == d1)
    Scratch.buildOnce(Scratch.dir("fpspec", in)) { builds += 1 }
    assert(builds == 1)
    // regenerating the corpus under the SAME path must yield a different
    // fingerprint, hence a fresh scratch dir and a re-run build — the
    // staleness trap a bare dir-path key would fall into
    writeCorpus(20)
    val d2 = Scratch.dir("fpspec", in)
    assert(d2 != d1, "fingerprint did not change on regeneration")
    Scratch.buildOnce(d2) { builds += 1 }
    assert(builds == 2)
  }

  test("BPE duplicate-output-symbol merge lists: behavior pinned") {
    import spark.implicits._
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    // Two rules constructing the SAME output symbol "abc" via different
    // splits — learnable-shaped (every operand is a char or an earlier
    // rule's output). Exhaustive over all words up to length 6 on the
    // rules' alphabet: rank-priority and in-order replay agree, because a
    // pair's applicability depends only on the SYMBOL STRINGS present,
    // never on which rule built them.
    val dup = Seq(("a", "b", 9L), ("b", "c", 8L), ("ab", "c", 7L),
      ("a", "bc", 6L), ("abc", "d", 5L))
    val chars = "abcd"
    val words = (1 to 6).flatMap { n =>
      (0 until math.pow(chars.length, n).toInt).map { x =>
        var v = x
        (1 to n).map { _ =>
          val c = chars(v % chars.length); v /= chars.length; c
        }.mkString
      }
    }
    val wf = words.map((_, 1L)).toDF("word", "freq").repartition(4)
    assert(toMap(Bpe.applyMergesScalable(wf, dup)) ==
      toMap(Bpe.applyMerges(wf, dup)))
    // An INVARIANT-VIOLATING list (a rule references a symbol only a
    // LATER rule creates) is where the paths legitimately part ways:
    // replay has already passed rule 0 when rule 1 creates its operand,
    // while rank-priority revisits it. Pinned: the scale path's
    // rank-priority semantics (what production BPE tokenizers implement)
    // is the canonical behavior; learnMerges can never emit such a list.
    val violating = Seq(("ab", "c", 9L), ("a", "b", 8L))
    val w = Seq(("abc", 1L)).toDF("word", "freq")
    assert(toMap(Bpe.applyMerges(w, violating))("abc") == "ab c")
    assert(toMap(Bpe.applyMergesScalable(w, violating))("abc") == "abc")
  }

  test("idMatchJoin scale mode agrees with parity mode on decorated DOIs") {
    import spark.implicits._
    // the reference's data shape: haystacks decorated with doi:/resolver
    // prefixes, request targets carrying the bare DOI core; a trailing
    // terminator keeps cores prefix-free so substring containment and
    // exact-id equality select the SAME pairs — on that conforming data
    // the two modes must produce identical matches (case included)
    val facts = (1L to 500L)
      .map(k => (s"doi:10.5063/FK${k}X", k)).toDF("fact_id", "payload")
    val bareProbes = (1L to 500L by 7)
      .map(k => (s"10.5063/FK${k}X", k)).toDF("probe_id", "pk")
    val decoratedProbes = (1L to 500L by 7)
      .map(k => (s"https://doi.org/10.5063/fk${k}x", k)).toDF("probe_id", "pk")
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("payload"), col("pk"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val parity = pairs(Joins.idMatchJoin(facts, bareProbes,
      col("fact_id"), col("probe_id"), mode = "parity"))
    val scale = pairs(Joins.idMatchJoin(facts, decoratedProbes,
      col("fact_id"), col("probe_id")))
    assert(parity.nonEmpty && parity.size == (1L to 500L by 7).size)
    assert(scale == parity)
    // and scale mode drops non-DOI rows instead of mismatching
    val junk = Seq(("not-an-identifier", 0L)).toDF("probe_id", "pk")
    assert(Joins.idMatchJoin(facts, junk,
      col("fact_id"), col("probe_id")).isEmpty)
    // both modes expose the same output contract: canonical_id FIRST,
    // then fact/probe columns in input order — flipping the conformance
    // switch is never a schema change for the caller, positions included
    val parityCols = Joins.idMatchJoin(facts, bareProbes,
      col("fact_id"), col("probe_id"), mode = "parity").columns.toSeq
    val scaleCols = Joins.idMatchJoin(facts, decoratedProbes,
      col("fact_id"), col("probe_id")).columns.toSeq
    assert(parityCols == scaleCols && parityCols.head == "canonical_id")
  }

  test("idMatchJoin conformance delta: prefix-id fixture where modes disagree") {
    import spark.implicits._
    // THE documented tightening (Joins.idMatchJoin scaladoc): substring
    // containment matches a target into a LONGER identifier suffix;
    // canonical-id equality does not. Target 10.5063/fk2ab vs haystack
    // 10.5063/FK2ABC — parity matches (substring), scale correctly
    // refuses (different identifiers). This pins the behavioral contract
    // the conformance switch trades on, so it stops living in a comment.
    val facts = Seq(("doi:10.5063/FK2ABC", 1L), ("doi:10.5063/FK2AB", 2L))
      .toDF("fact_id", "payload")
    val probes = Seq(("10.5063/fk2ab", 10L)).toDF("probe_id", "pk")
    def pays(df: org.apache.spark.sql.DataFrame) =
      df.select("payload").collect().map(_.getLong(0)).toSet
    val parity = Joins.idMatchJoin(facts, probes,
      col("fact_id"), col("probe_id"), mode = "parity")
    val scale = Joins.idMatchJoin(facts, probes,
      col("fact_id"), col("probe_id"))
    // parity: target is a substring of BOTH 10.1/ab and 10.1/abc
    assert(pays(parity) == Set(1L, 2L))
    // scale: only the exact identifier matches
    assert(pays(scale) == Set(2L))
    // scale's canonical key is the normalized core; parity normalizes the
    // probe id into the same column
    assert(scale.select("canonical_id").collect()
      .map(_.getString(0)).toSet == Set("10.5063/fk2ab"))
    assert(parity.select("canonical_id").collect()
      .map(_.getString(0)).toSet == Set("10.5063/fk2ab"))
  }

  test("snapshotDiff classifies all four change types, including removed") {
    import spark.implicits._
    val oldSnap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("k", "s", "v")
    val newSnap = Seq((1L, "a", 10.0),  // unchanged
      (2L, "b", 99.0),                  // changed value
      (3L, "X", 30.0),                  // changed string
      (5L, "e", 50.0)                   // added; 4 removed
    ).toDF("k", "s", "v")
    val got = Joins.snapshotDiff(oldSnap, newSnap, "k", Seq("s", "v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed",
      4L -> "removed", 5L -> "added"))
    // NULL discipline: a value MOVING between columns (swapping with NULL)
    // must read as changed — xxhash64 alone would skip the NULL child and
    // collide the two fingerprints
    val o2 = Seq((1L, Option.empty[String], Option("x")),
      (2L, Option("y"), Option.empty[String])).toDF("k", "s", "v")
    val n2 = Seq((1L, Option("x"), Option.empty[String]),
      (2L, Option("y"), Option.empty[String])).toDF("k", "s", "v")
    val got2 = Joins.snapshotDiff(o2, n2, "k", Seq("s", "v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2 == Map(1L -> "changed", 2L -> "unchanged"))
  }

  test("budgetSelect's bucketed prefix sum matches the naive global window") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // scores collide across ids and straddle bucket boundaries (width 8
    // ⇒ 7→8 and 15→16 cross buckets); both paths tiebreak by id
    val docs = (1L to 300L).map(i => (i, (i * 7919) % 40, 10L + (i * 31) % 90))
      .toDF("id", "score", "tok")
    val got = Sampling.budgetSelect(docs, col("id"), col("score"),
        col("tok"), budgetNumer = 1, budgetDenom = 3, bucketWidth = 8)
      .orderBy("doc_id").collect().toSeq
    val naive = docs
      .withColumn("cum_tok", sum(col("tok")).over(
        Window.orderBy(col("score").desc, col("id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(docs.agg(sum(col("tok")).as("total_tok")))
      .filter(col("cum_tok") <= expr("total_tok * 1L div 3L"))
      .select(col("id").as("doc_id"), col("score"), col("tok"),
        col("cum_tok"))
      .orderBy("doc_id").collect().toSeq
    assert(naive.nonEmpty && got == naive)
  }

  test("epochShuffle is a reproducible per-epoch permutation with dense shard positions") {
    import spark.implicits._
    val docs = spark.range(1, 501).toDF("id")
    val a = Sampling.epochShuffle(docs, col("id"), "e1", numShards = 8)
    assert(a.count() == 500 &&
      a.select("doc_id").distinct().count() == 500) // a permutation
    // positions are 1..n within every shard — a reader can stream each
    // shard densely with no gaps
    assert(a.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("lo"), max("pos").as("hi"))
      .filter(col("lo") =!= 1 || col("hi") =!= col("n")).count() == 0)
    // stable under re-execution, different under a different epoch seed
    val again = Sampling.epochShuffle(docs, col("id"), "e1", numShards = 8)
    assert(a.collect().toSet == again.collect().toSet)
    val b = Sampling.epochShuffle(docs, col("id"), "e2", numShards = 8)
    val assign = (d: org.apache.spark.sql.DataFrame) =>
      d.select("doc_id", "shard", "pos").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(assign(a) != assign(b))
  }

  test("pageRank matches an exact integer replay; multi-edges each contribute") {
    import spark.implicits._
    // triangle 1->2->3->1, a dangling sink 4, and a PARALLEL edge 2->3
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (2L, 3L))
    val got = Joins.pageRank(es.toDF("src", "dst"), iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // plain-Scala replay of the identical integer recurrence
    val outd = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val ns = (es.map(_._1) ++ es.map(_._2)).distinct
    var pr = ns.map(_ -> 1000000L).toMap
    for (_ <- 1 to 10) {
      val sums = es.groupBy(_._2).view
        .mapValues(_.map { case (s, _) => pr(s) / outd(s) }.sum).toMap
      pr = ns.map(n => n -> (150000L + 850L * sums.getOrElse(n, 0L) / 1000L)).toMap
    }
    assert(got == pr)
    // structure sanity: 3 receives two parallel contributions from 2,
    // so it must outrank the dangling 4 (teleport-only would tie them)
    assert(got(3L) > got(4L))
  }

  test("pageRankIncremental: warm loop is the cold recurrence; 3 warm rounds beat 10 cold") {
    import spark.implicits._
    // base graph: 500 nodes × 2 out-edges (a self-loop-free scramble
    // edge plus a hub edge into nodes 0..19; hubs link to the next hub)
    // — the skewed in-degree shape of real link graphs, where the
    // fixpoint sits FAR from the uniform init (hubs at millions of
    // micro) and a cold start genuinely needs its full round budget.
    // Delta: ~2% appended edges, all sourced from brand-new nodes
    // (500..509) pointing at old targets — a bounded perturbation of the
    // fixpoint, the daily-append shape. (Old-node out-degree dilution is
    // pinned bit-exactly by j_pagerank_incremental's oracle instead.)
    val base = (0L until 500L).flatMap(i =>
      Seq((i, (i * 7 + 3) % 500), (i, if (i < 20) (i + 1) % 20 else i % 20)))
    val delta = (500L until 510L).flatMap(i =>
      Seq((i, (i * 11) % 500), (i, i % 20)))
    val all = base ++ delta
    val allDf = all.toDF("src", "dst")
    def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identity: warm-starting from the uniform init IS the cold run,
    // bit-for-bit — pins that the warm path shares the exact recurrence
    val uniform = all.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => (n, 1000000L)).toDF("node", "pr")
    assert(ranks(Joins.pageRankIncremental(uniform, allDf, iterations = 10)) ==
      ranks(Joins.pageRank(allDf, iterations = 10)))
    // convergence: the maintained ranks (a converged prior — what a
    // daily-refresh loop carries) are near the post-delta fixpoint, so a
    // 3-round warm budget must (a) strictly dominate the SAME cold
    // budget and (b) match a cold budget twice its size — the
    // rounds-saved claim (≥3 corpus-sized join+agg passes per refresh)
    val fix = ranks(Joins.pageRank(allDf, iterations = 40))
    val prev = Joins.pageRank(base.toDF("src", "dst"), iterations = 30)
    val warm3 = ranks(Joins.pageRankIncremental(prev, allDf, iterations = 3))
    val cold3 = ranks(Joins.pageRank(allDf, iterations = 3))
    val cold6 = ranks(Joins.pageRank(allDf, iterations = 6))
    def maxErr(m: Map[Long, Long]): Long =
      fix.map { case (n, p) => math.abs(m.getOrElse(n, 150000L) - p) }.max
    def l1Err(m: Map[Long, Long]): Long =
      fix.map { case (n, p) => math.abs(m.getOrElse(n, 150000L) - p) }.sum
    info(s"vs 40-round fixpoint: warm3 max=${maxErr(warm3)} l1=${l1Err(warm3)}, " +
      s"cold3 max=${maxErr(cold3)} l1=${l1Err(cold3)}, " +
      s"cold6 max=${maxErr(cold6)} l1=${l1Err(cold6)}, fixMax=${fix.values.max}")
    assert(maxErr(warm3) <= maxErr(cold3) && l1Err(warm3) <= l1Err(cold3),
      s"equal budget: warm3 (max=${maxErr(warm3)}, l1=${l1Err(warm3)}) not within " +
        s"cold3 (max=${maxErr(cold3)}, l1=${l1Err(cold3)})")
    assert(l1Err(warm3) <= l1Err(cold6),
      s"rounds saved: warm3 l1=${l1Err(warm3)} > cold6 l1=${l1Err(cold6)}")
    // and the warm result is genuinely near the fixpoint, not merely
    // less wrong: every node within 2% of the largest converged rank
    assert(maxErr(warm3) < fix.values.max / 50,
      s"warm3 err ${maxErr(warm3)} vs fixMax ${fix.values.max}")
  }

  test("orderStatistics: exact selection without a sort, any rank, duplicates, negatives") {
    import spark.implicits._
    // scrambled multiset with heavy duplication, negatives, and wide
    // magnitude spread — bins=4 forces MANY refinement passes, so the
    // below-count bookkeeping is exercised across rounds, not just one
    val vals = ((0 until 500).map(i => ((i * 7919L) % 101) - 50) ++
      Seq.fill(40)(1234567890123L) ++ Seq(-999999999999L, 0L, 0L)).toSeq
    val df = vals.toDF("x")
    val sorted = vals.sorted
    val ranks = Seq(1L, 2L, 137L, 271L, 500L, 541L, vals.size.toLong)
    val got = graft.operators.Sketches.orderStatistics(df, col("x"), ranks,
      bins = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ranks.foreach(r => assert(got(r) == sorted((r - 1).toInt),
      s"rank $r: got ${got(r)} want ${sorted((r - 1).toInt)}"))
    // quantile wrapper follows the PERCENTILE_DISC / quantile_disc rank
    // rule ceil(q*n)
    val qs = Seq(0.25, 0.5, 0.9, 1.0)
    val qgot = graft.operators.Sketches.quantilesDisc(df, col("x"), qs)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    qs.foreach { q =>
      val want = sorted(math.ceil(q * vals.size).toInt.max(1) - 1)
      assert(qgot(q) == want, s"q=$q: got ${qgot(q)} want $want")
    }
    // rank bounds are enforced, not clamped
    intercept[IllegalArgumentException] {
      graft.operators.Sketches.orderStatistics(df, col("x"),
        Seq(vals.size + 1L))
    }
  }

  test("orderStatisticsWeighted: weighted ranks equal the expanded multiset") {
    import spark.implicits._
    // the ground truth for weighted selection: each (v, w) behaves as w
    // copies of v. Duplicated values, negatives, a dominating weight,
    // and zero/null weights that must contribute nothing; bins=4 forces
    // many refinement passes over the weight bookkeeping
    val rows = ((0 until 200).map(i => (((i * 7919L) % 101) - 50, (i % 5 + 1).toLong)) ++
      Seq((1234567890123L, 40L), (-999999999999L, 1L), (7L, 0L))).toSeq
    val df = rows.toDF("x", "w") .unionByName(
      Seq((99L, Option.empty[Long])).toDF("x", "w"))
    val expanded = rows.flatMap { case (v, w) =>
      Seq.fill(w.toInt)(v) }.sorted
    val totalW = expanded.size.toLong
    val ranks = Seq(1L, 2L, 137L, totalW / 2, totalW - 40, totalW)
    val got = graft.operators.Sketches.orderStatisticsWeighted(
      df, col("x"), col("w"), ranks, bins = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ranks.foreach(r => assert(got(r) == expanded((r - 1).toInt),
      s"rank $r: got ${got(r)} want ${expanded((r - 1).toInt)}"))
    // quantile wrapper: ceil(q × Σw) over the expanded multiset
    val qs = Seq(0.25, 0.5, 0.9, 1.0)
    val qgot = graft.operators.Sketches.weightedQuantilesDisc(
      df, col("x"), col("w"), qs)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    qs.foreach { q =>
      val want = expanded(math.ceil(q * totalW).toLong.max(1L).toInt - 1)
      assert(qgot(q) == want, s"q=$q: got ${qgot(q)} want $want")
    }
    // weighted rank bounds are enforced against Σw, not row count
    intercept[IllegalArgumentException] {
      graft.operators.Sketches.orderStatisticsWeighted(
        df, col("x"), col("w"), Seq(totalW + 1))
    }
  }

  test("groupedQuantilesDisc: exact per-group quantiles, divergent spans and singletons") {
    import spark.implicits._
    // groups with wildly different value spans, duplicates, negatives,
    // and a singleton group — per-group ranks must not leak across keys
    val rows = (0 until 300).map(i => ("en", ((i * 7919L) % 97) - 48)) ++
      (0 until 50).map(i => ("de", i * 1000000L)) ++
      Seq(("fr", 42L)) ++ Seq.fill(30)(("zh", -7L))
    val df = rows.toDF("g", "x")
    val qs = Seq(0.25, 0.5, 0.9, 1.0)
    val got = graft.operators.Sketches.groupedQuantilesDisc(
      df, col("g"), col("x"), qs, bins = 4)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    val byG = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for ((g, sorted) <- byG; q <- qs) {
      val want = sorted(math.ceil(q * sorted.size).toInt.max(1) - 1)
      assert(got((g, q)) == want, s"($g, $q): got ${got((g, q))} want $want")
    }
    assert(got.size == byG.size * qs.size)
  }

  test("orderStatistics never sorts: every refinement pass is agg-only") {
    import spark.implicits._
    val plans = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = synchronized { plans += qe.executedPlan.toString }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = (1 to 5000).map(i => ((i * 7919L) % 4999)).toDF("x")
      graft.operators.Sketches.orderStatistics(df, col("x"),
        Seq(1L, 2500L, 5000L)).collect()
      // listener delivery is async — wait until the plan log goes quiet
      var last = -1
      while (synchronized(plans.size) != last) {
        last = synchronized(plans.size); Thread.sleep(300)
      }
      val sorts = synchronized(plans.toList).filter(_.contains("Sort"))
      assert(synchronized(plans.size) >= 2, "expected multiple passes")
      assert(sorts.isEmpty,
        s"a refinement pass sorted:\n${sorts.headOption.getOrElse("")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("topkSummaries/topkMerge: bounds contain truth, exact when untruncated") {
    import spark.implicits._
    // two periods with different tracked sets so every accounting branch
    // fires: a tracked in p1 only (true p2 count 1 ≤ eps2), e in p2
    // only, b/c tracked everywhere (exact), d dropped everywhere
    val rows =
      Seq.fill(10)(("p1", "a")) ++ Seq.fill(8)(("p1", "b")) ++
      Seq.fill(5)(("p1", "c")) ++ Seq.fill(2)(("p1", "d")) ++
      Seq.fill(9)(("p2", "b")) ++ Seq.fill(7)(("p2", "c")) ++
      Seq.fill(6)(("p2", "e")) ++ Seq.fill(1)(("p2", "a"))
    val df = rows.toDF("p", "t")
    val sums = graft.operators.Sketches.topkSummaries(
      df, col("p"), col("t"), k = 3)
    val got = graft.operators.Sketches.topkMerge(sums, k = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // eps1 = 2 (d's count), eps2 = 1 (a's p2 count): a [10, 11] true 11,
    // e [6, 8] true 6, b and c tracked everywhere → exact
    assert(got.toSeq == Seq(("b", 17L, 17L), ("c", 12L, 12L),
      ("a", 10L, 11L), ("e", 6L, 8L)), s"got ${got.toSeq}")
    val truth = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    got.foreach { case (t, lo, hi) =>
      assert(lo <= truth(t) && truth(t) <= hi, s"$t: [$lo,$hi] vs ${truth(t)}")
    }
    // summary-width k covering every term → eps 0, merge EXACT, and the
    // result is partition-invariant
    for (parts <- Seq(1, 5)) {
      val exact = graft.operators.Sketches.topkMerge(
        graft.operators.Sketches.topkSummaries(
          df.repartition(parts), col("p"), col("t"), k = 10), k = 5)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(exact.toSeq == Seq(("b", 17L, 17L), ("c", 12L, 12L),
        ("a", 11L, 11L), ("e", 6L, 6L), ("d", 2L, 2L)))
    }
  }

  test("language entropy: uniform vocab hits ln(k); skew drops it; TTR exact") {
    import spark.implicits._
    // "u": 4 distinct words × 2 each (uniform, H = ln 4); "s": 8 tokens
    // where one word dominates 5/8 — H must drop below uniform's
    val docs = Seq(
      ("u", "a b c d a b c d"),
      ("s", "x x x x x y z w")).toDF("lang", "text")
    val words = docs.select(col("lang"),
      explode(split(col("text"), " ")).as("term"))
    val c = words.groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).cast("double").as("c"))
    val got = c.groupBy(col("lang")).agg(
        (log(sum(col("c"))) -
          sum(col("c") * log(col("c"))) / sum(col("c"))).as("h"),
        (count(lit(1)).cast("double") / sum(col("c"))).as("ttr"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(math.abs(got("u")._1 - math.log(4)) < 1e-12)
    assert(got("u")._2 == 0.5)
    val hs = -(5.0 / 8 * math.log(5.0 / 8) + 3 * (1.0 / 8 * math.log(1.0 / 8)))
    assert(math.abs(got("s")._1 - hs) < 1e-12)
    assert(got("s")._1 < got("u")._1)
    assert(got("s")._2 == 0.5)
  }

  test("triangleCounts: K4 + square + pendant, dup/reversed/self edges collapse") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles), a 4-cycle on {5,6,7,8} (none),
    // pendant 9–1; a duplicate, a reversed duplicate and a self-loop
    // must all collapse in the canonical pass
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 6L), (6L, 7L), (7L, 8L), (8L, 5L), (9L, 1L),
      (2L, 1L), (4L, 2L), (3L, 3L)).toDF("src", "dst")
    val got = graft.operators.Joins.triangleCounts(edges)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // node 1: deg 4 (2,3,4,9), 3 triangles, coeff 2·3·10⁶/12 = 500000
    assert(got(1L) == ((4L, 3L, 500000L)), s"${got(1L)}")
    for (n <- Seq(2L, 3L, 4L))
      assert(got(n) == ((3L, 3L, 1000000L)), s"node $n: ${got(n)}")
    for (n <- Seq(5L, 6L, 7L, 8L))
      assert(got(n) == ((2L, 0L, 0L)), s"node $n: ${got(n)}")
    assert(got(9L) == ((1L, 0L, 0L)))
    assert(got.size == 9)
    // global count: corner sum / 3 = 4 triangles
    assert(got.values.map(_._2).sum == 12L)
  }

  test("madOutliers: spike cannot drag the threshold; MAD=0 flags any deviation") {
    import spark.implicits._
    // series 10,10,10,10,1000: mean/sigma screening would be dragged by
    // the spike (z of 1000 ~ 1.79 at sigma~396 -> NOT flagged at 3z);
    // median=10, MAD=0 -> the spike IS flagged, and the flat days not
    val rows = Seq(("a", "d1", 10L), ("a", "d2", 10L), ("a", "d3", 10L),
      ("a", "d4", 10L), ("a", "d5", 1000L),
      ("b", "d1", 5L), ("b", "d2", 7L), ("b", "d3", 9L))
    val got = graft.operators.Sketches.madOutliers(
      rows.toDF("g", "id", "v"), col("g"), col("id"), col("v"), k = 3L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(got(("a", "d5")) == ((10L, 0L, true)), s"$got")
    assert(got(("a", "d1")) == ((10L, 0L, false)), s"$got")
    // b: sorted [5,7,9], median 7 (rank 2), devs [0,2,2] -> MAD = 2
    // (rank 2 of sorted devs); no |v-7| exceeds 6
    assert(got(("b", "d1")) == ((7L, 2L, false)), s"$got")
    assert(got(("b", "d3")) == ((7L, 2L, false)), s"$got")
  }

  test("ewmaSmooth: integer recurrence matches a hand fold, per group, in order") {
    import spark.implicits._
    val rows = Seq(("a", "p1", 100L), ("a", "p2", 200L), ("a", "p3", 0L),
      ("b", "p1", 50L))
    val got = graft.operators.Sketches.ewmaSmooth(
      rows.toDF("g", "p", "v"), col("g"), col("p"), col("v"),
      alphaMilli = 700L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3))
      .toMap
    // a: s1=100; s2=(700*200+300*100)/1000=170; s3=(0+300*170)/1000=51
    assert(got == Map(("a", "p1") -> 100L, ("a", "p2") -> 170L,
      ("a", "p3") -> 51L, ("b", "p1") -> 50L), s"$got")
  }

  test("rangePartitionPlan: exact boundaries, heavy key closes the lower bucket") {
    import spark.implicits._
    // 12 rows over 4 buckets: ranks 3/6/9 -> boundaries 3, 6, 9
    val even = (1L to 12L).toDF("v")
    val p1 = graft.sources.Layout.rangePartitionPlan(even, col("v"), 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(p1 == Map(0L -> ((3L, 1L, 3L, 1000000L)),
      1L -> ((3L, 4L, 6L, 1000000L)), 2L -> ((3L, 7L, 9L, 1000000L)),
      3L -> ((3L, 10L, 12L, 1000000L))), s"$p1")
    // a value straddling a boundary cannot split across buckets: eight
    // copies of 5 push the rank-3 AND rank-6 boundaries to 5, so the
    // duplicate mass lands in ONE bucket (v > b comparisons) and the
    // imbalance is visible in fill_micro, never hidden by a key split
    val skew = (Seq.fill(8)(5L) ++ Seq(1L, 2L, 8L, 9L)).toDF("v")
    val p2 = graft.sources.Layout.rangePartitionPlan(skew, col("v"), 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // boundaries: ranks 3,6,9 of sorted [1,2,5×8,8,9] are ALL 5 (the
    // eight 5s span ranks 3..10), so every v > 5 counts three
    // boundaries below it: bucket0 = v<=5 (10 rows, 3.3× over-full),
    // buckets 1-2 empty, bucket3 = {8,9}
    assert(p2 == Map(0L -> ((10L, 1L, 5L, 3333333L)),
      3L -> ((2L, 8L, 9L, 666666L))), s"$p2")
  }

  test("labelPropagation: cliques converge to min label; bridge trace is exact") {
    import spark.implicits._
    // two disconnected K4s (plus a dup, a reversed dup and a self-loop):
    // pure neighbor-plurality with min tie-break settles each clique on
    // its min member id by round 2 and stays there
    val cliques = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (11L, 12L), (11L, 13L), (11L, 14L), (12L, 13L),
      (12L, 14L), (13L, 14L), (2L, 1L), (3L, 3L), (4L, 2L))
      .toDF("src", "dst")
    val got = graft.operators.Joins.labelPropagation(cliques, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_) == 1L), s"$got")
    assert(Seq(11L, 12L, 13L, 14L).forall(got(_) == 11L), s"$got")
    assert(got.size == 8)
    // bridged K4–K3 (bridge 4–10): the synchronous update is fully
    // deterministic, so the round-4 state matches the hand trace —
    // including the label-migration artifact where clique {10,11,12}
    // ends up carrying bridge-neighbor 4's id
    val bridged = cliques.filter(col("src") < 10L && col("dst") < 10L)
      .unionAll(Seq((4L, 10L), (10L, 11L), (10L, 12L), (11L, 12L))
        .toDF("src", "dst"))
    val got2 = graft.operators.Joins.labelPropagation(bridged, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(got2(_) == 1L), s"$got2")
    assert(Seq(10L, 11L, 12L).forall(got2(_) == 4L), s"$got2")
  }

  test("labelPropagation: string node ids vote and tie-break identically to numeric ids") {
    import spark.implicits._
    // the r10 plurality argmax negated the LABEL — under non-ANSI mode a
    // string label silently cast to double (null), corrupting every
    // community. The argmax now negates only the vote count, so any
    // orderable id type gets the same max-votes-then-min-label rule.
    val cliques = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
      ("b", "d"), ("c", "d"), ("x1", "x2"), ("x1", "x3"), ("x2", "x3"))
      .toDF("src", "dst")
    val got = graft.operators.Joins.labelPropagation(cliques, rounds = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Seq("a", "b", "c", "d").forall(got(_) == "a"), s"$got")
    assert(Seq("x1", "x2", "x3").forall(got(_) == "x1"), s"$got")
    assert(got.size == 7 && got.values.forall(_ != null), s"$got")
  }

  test("hugeGraph mode: identical results with the broadcast hint off") {
    import spark.implicits._
    // hugeGraph=true is THE 1000-executor path (score/label tables too
    // big to broadcast -> co-partitioned shuffle joins). The flag must
    // be a pure physical hint: bit-identical output on every iterative
    // graph operator that carries it. Integer micro-unit arithmetic is
    // what makes this assertable as equality, not approximation.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"))
    val edges = Tables.lineitem(spark, testDataDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .withColumn("dst", lead(col("l_partkey"), 1).over(w))
      .filter(col("dst").isNotNull && col("dst") =!= col("l_partkey"))
      .select(col("l_partkey").as("src"), col("dst"))
      .localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(graft.operators.Joins.hitsScores(edges, 2, hugeGraph = true))
      == rows(graft.operators.Joins.hitsScores(edges, 2)))
    assert(rows(graft.operators.Joins.labelPropagation(edges, 2,
        hugeGraph = true))
      == rows(graft.operators.Joins.labelPropagation(edges, 2)))
    assert(rows(graft.operators.Joins.pageRank(edges, 3, hugeGraph = true))
      == rows(graft.operators.Joins.pageRank(edges, 3)))
    val seeds = edges.select(col("src").as("node")).distinct().limit(5)
      .localCheckpoint()
    assert(rows(graft.operators.Joins.pageRankPersonalized(edges, seeds,
        iterations = 3, hugeGraph = true))
      == rows(graft.operators.Joins.pageRankPersonalized(edges, seeds,
        iterations = 3)))
  }

  test("hitsScores: hand-traced 2-round integer HITS with zero-fill") {
    import spark.implicits._
    // 1->2, 3->2, 2->4 (+ dup and self-loop to exercise the canonical
    // pass): node 2 is the sole authority magnet, nodes 1/3 pure hubs,
    // node 4 a weak authority with no out-edges (hub 0)
    val edges = Seq((1L, 2L), (3L, 2L), (2L, 4L), (1L, 2L), (4L, 4L))
      .toDF("src", "dst")
    val got = graft.operators.Joins.hitsScores(edges, rounds = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(
      1L -> ((0L, 1000000L)),
      2L -> ((1000000L, 250000L)),
      3L -> ((0L, 1000000L)),
      4L -> ((250000L, 0L))), s"$got")
    // string node ids flow through the same plan (no numeric casts)
    val sGot = graft.operators.Joins.hitsScores(
      Seq(("a", "b"), ("c", "b"), ("b", "d")).toDF("src", "dst"),
      rounds = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(sGot("b") == ((1000000L, 250000L)) &&
      sGot("d") == ((250000L, 0L)), s"$sGot")
  }

  test("hitsScores hugeGraph path survives with AQE off") {
    // the huge path releases the edge checkpoint the node spine derives
    // from; without AQE running stages early, the spine's lazy checkpoint
    // must already be materialized by then or the read fails on the
    // released blocks. A session of its own keeps the conf change local.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    import s.implicits._
    val edges = Seq((1L, 2L), (3L, 2L), (2L, 4L), (1L, 2L), (4L, 4L))
      .toDF("src", "dst")
    val got = graft.operators.Joins.hitsScores(edges, rounds = 2,
        hugeGraph = true)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(
      1L -> ((0L, 1000000L)),
      2L -> ((1000000L, 250000L)),
      3L -> ((0L, 1000000L)),
      4L -> ((250000L, 0L))), s"$got")
  }

  test("temperatureMixSqrt: closed-form rates, smallest source kept whole") {
    import spark.implicits._
    // counts: en 100, es 25, plus nulls (dropped) -> rates en 0.5, es 1.0
    val rows = (0L until 100L).map(i => (i, Some("en"))) ++
      (100L until 125L).map(i => (i, Some("es"))) ++
      Seq((900L, None: Option[String]))
    val df = rows.toDF("doc_id", "lang")
    val (sampled, rates) = graft.operators.Sampling.temperatureMixSqrt(
      df, col("doc_id"), col("lang"))
    assert(rates == Map("en" -> 0.5, "es" -> 1.0), s"$rates")
    val got = sampled.collect().map(r => r.getLong(0) -> r.getString(1))
    // the smallest source survives at full rate; nulls never appear
    assert(got.count(_._2 == "es") == 25, s"${got.length}")
    assert(got.forall(_._2 != null))
    // the en gate is the deterministic hash gate at 0.5 — strictly
    // between "none" and "all", and stable across runs
    val en = got.count(_._2 == "en")
    assert(en > 0 && en < 100, s"en=$en")
    assert(sampled.collect().map(r => r.getLong(0)).sorted.toSeq ==
      got.map(_._1).sorted.toSeq)
  }

  test("dupSpanFraction: interval union, self-repetition, cross-doc spans, zero-fill") {
    import spark.implicits._
    // docA: a 5-token pattern repeated 7x (35 tokens) - every 25-gram
    // recurs at period 5, so all 11 grams are duplicated and their
    // union covers the WHOLE doc (overlap merge must not double-count).
    val a = (0 until 7).flatMap(_ => Seq("pa", "pb", "pc", "pd", "pe"))
    // docC and docD share exactly one 25-gram at different offsets
    val shared = (1 to 25).map(i => s"x$i")
    val c = shared ++ Seq("u1", "u2", "u3", "u4", "u5")
    val d = Seq("v1", "v2", "v3", "v4", "v5") ++ shared
    // docB: 30 unique tokens, nothing duplicated -> zero-fill row
    val b = (1 to 30).map(i => s"b$i")
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, d))
      .map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
    val got = graft.operators.Dedup.dupSpanFraction(
        docs, col("doc_id"), col("text"), g = 25)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) == ((35L, 11L, 35L, 1000000L)), s"$got")
    assert(got(2L) == ((30L, 0L, 0L, 0L)), s"$got")
    assert(got(3L) == ((30L, 1L, 25L, 833333L)), s"$got")
    assert(got(4L) == ((30L, 1L, 25L, 833333L)), s"$got")
  }

  test("exactSubstrCoverage: planted 25/50/200-token spans at arbitrary offsets, exact tails") {
    import spark.implicits._
    def toks(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i")
    // a 200-token span planted at offset 4 of doc 1 and offset 31 of
    // doc 2 — arbitrary offsets, arbitrary (non-multiple-of-25) tails
    val span200 = toks("s", 200)
    val d1 = toks("a", 3) ++ span200 ++ toks("a2", 17) // 220 tokens
    val d2 = toks("b", 30) ++ span200 ++ toks("b2", 8) // 238 tokens
    // a 50-token span shared between docs 3 and 4
    val span50 = toks("t", 50)
    val d3 = toks("c", 7) ++ span50 ++ toks("c2", 13) // 70 tokens
    val d4 = span50 ++ toks("d", 40)                  // 90 tokens
    // exactly 25 shared tokens (the threshold boundary) in docs 5/6
    val span25 = toks("u", 25)
    val d5 = toks("e", 2) ++ span25 ++ toks("e2", 3) // 30 tokens
    val d6 = toks("f", 5) ++ span25                  // 30 tokens
    // a 24-token shared run: BELOW threshold, must count nothing
    val span24 = toks("v", 24)
    val d7 = span24 ++ toks("g", 6)  // 30 tokens
    val d8 = toks("h", 6) ++ span24  // 30 tokens
    val docs = Seq(1L -> d1, 2L -> d2, 3L -> d3, 4L -> d4, 5L -> d5,
      6L -> d6, 7L -> d7, 8L -> d8)
      .map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
    val got = graft.operators.Dedup.exactSubstrCoverage(
        docs, col("doc_id"), col("text"), minLen = 25)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // covered = exactly the planted span length (exact tails, no
    // fixed-stride rounding); starts = len - 24
    assert(got(1L) == ((220L, 176L, 200L)), s"$got")
    assert(got(2L) == ((238L, 176L, 200L)), s"$got")
    assert(got(3L) == ((70L, 26L, 50L)), s"$got")
    assert(got(4L) == ((90L, 26L, 50L)), s"$got")
    assert(got(5L) == ((30L, 1L, 25L)), s"$got")
    assert(got(6L) == ((30L, 1L, 25L)), s"$got")
    assert(got(7L) == ((30L, 0L, 0L)), s"$got")
    assert(got(8L) == ((30L, 0L, 0L)), s"$got")
  }

  test("exactSubstrCoverage == every-offset md5-gram coverage (the equivalence, executable)") {
    import spark.implicits._
    // the proof in the scaladoc, run as code: on any corpus the
    // suffix-rank path and dupSpanFraction's every-offset hashed grams
    // must agree exactly (mismatch = either a rank-class bug or an md5
    // collision). Corpus: real sf0.001 documents plus planted clones.
    val docs = Tables.documents(spark, testDataDir)
      .select(col("doc_id"), col("text")).limit(120)
    val clones = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("concat_ws(' ', slice(split(text, ' '), 3, 60))").as("text"))
    val corpus = docs.unionByName(clones)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_tokens", "covered_tokens", "dup_frac_micro")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val sa = asMap(graft.operators.Dedup.exactSubstrCoverage(
      corpus, col("doc_id"), col("text"), minLen = 25))
    val gram = asMap(graft.operators.Dedup.dupSpanFraction(
      corpus, col("doc_id"), col("text"), g = 25))
    assert(sa == gram, s"suffix-rank vs gram coverage diverged")
  }

  test("exactSubstrTrim: planted arbitrary-length spans removed with exact tails") {
    import spark.implicits._
    def toks(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i")
    // the coverage spec's corpus shapes, graded on the REBUILT text:
    // a 200-span at offsets 4/31, a 50-span, the 25 boundary, a 24-run
    // below threshold — tails must cut exactly, never to gram stride
    val span200 = toks("s", 200)
    val d1 = toks("a", 3) ++ span200 ++ toks("a2", 17)
    val d2 = toks("b", 30) ++ span200 ++ toks("b2", 8)
    val span50 = toks("t", 50)
    val d3 = toks("c", 7) ++ span50 ++ toks("c2", 13)
    val d4 = span50 ++ toks("d", 40)
    val span24 = toks("v", 24)
    val d7 = span24 ++ toks("g", 6)
    val d8 = toks("h", 6) ++ span24
    val docs = Seq(1L -> d1, 2L -> d2, 3L -> d3, 4L -> d4,
      7L -> d7, 8L -> d8)
      .map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
    val got = graft.operators.Dedup.exactSubstrTrim(
        docs, col("doc_id"), col("text"), minLen = 25)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((220L, 200L,
      (toks("a", 3) ++ toks("a2", 17)).mkString(" "))), s"$got")
    assert(got(2L) == ((238L, 200L,
      (toks("b", 30) ++ toks("b2", 8)).mkString(" "))), s"$got")
    assert(got(3L) == ((70L, 50L,
      (toks("c", 7) ++ toks("c2", 13)).mkString(" "))), s"$got")
    assert(got(4L) == ((90L, 50L, toks("d", 40).mkString(" "))), s"$got")
    // below-threshold runs survive untouched
    assert(got(7L) == ((30L, 0L, d7.mkString(" "))), s"$got")
    assert(got(8L) == ((30L, 0L, d8.mkString(" "))), s"$got")
  }

  test("exactSubstrTrim removes exactly exactSubstrCoverage's covered tokens") {
    import spark.implicits._
    // the trim and the metric must agree doc-by-doc on a real corpus:
    // n_removed == covered_tokens, and the surviving token count is
    // n_tokens - covered (the rebuild drops nothing else)
    val docs = Tables.documents(spark, testDataDir)
      .select(col("doc_id"), col("text")).limit(120)
    val clones = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("concat_ws(' ', slice(split(text, ' '), 3, 60))").as("text"))
    val corpus = docs.unionByName(clones)
    val cov = graft.operators.Dedup.exactSubstrCoverage(
        corpus, col("doc_id"), col("text"), minLen = 25)
      .select("doc_id", "covered_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trim = graft.operators.Dedup.exactSubstrTrim(
        corpus, col("doc_id"), col("text"), minLen = 25)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        when(col("trimmed_text") === "", lit(0))
          .otherwise(size(split(col("trimmed_text"), " "))).as("n_kept"))
      .collect()
    assert(trim.nonEmpty && trim.exists(_.getLong(2) > 0L))
    trim.foreach { r =>
      assert(r.getLong(2) == cov(r.getLong(0)),
        s"doc ${r.getLong(0)}: n_removed ${r.getLong(2)} != covered ${cov(r.getLong(0))}")
      assert(r.getInt(3).toLong == r.getLong(1) - r.getLong(2),
        s"doc ${r.getLong(0)}: kept ${r.getInt(3)} != ${r.getLong(1)} - ${r.getLong(2)}")
    }
  }

  test("exactSubstr quarantines docs past the repr packing width (complete, not abort)") {
    import spark.implicits._
    // a doc of 2^20 + 1 DISTINCT tokens would alias the doc*2^20 + pos
    // packing; the run must COMPLETE (r13's raise_error let one
    // pathological doc kill a corpus job) with the giant flagged and
    // fully inert: doc 4 repeats the giant's first tokens, and must
    // read ZERO duplication — the quarantined content neither marks
    // nor is marked
    val n = (1 << 20) + 1
    val big = (1 to n).map(i => s"g$i").mkString(" ")
    val docs = Seq(
      (1L, big),
      (2L, "b c d e"), (3L, "b c d e"), // real cross-doc duplication
      (4L, "g1 g2 g3 g4 g5")            // giant content, giant inert
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.exactSubstrCoverage(
        docs, col("doc_id"), col("text"), minLen = 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getBoolean(got(1L).fieldIndex("quarantined")))
    assert(got(1L).isNullAt(got(1L).fieldIndex("n_dup_starts")))
    assert(got(1L).isNullAt(got(1L).fieldIndex("dup_frac_micro")))
    def cov(id: Long) =
      got(id).getLong(got(id).fieldIndex("covered_tokens"))
    assert(!got(2L).getBoolean(got(2L).fieldIndex("quarantined")))
    assert(cov(2L) == 4L && cov(3L) == 4L, s"${got(2L)} ${got(3L)}")
    assert(cov(4L) == 0L, s"giant content marked doc 4: ${got(4L)}")
    // the trims complete under the same contract: giant NULL/flagged,
    // the real duplicate pair still trims exactly
    val trim = graft.operators.Dedup.exactSubstrTrim(
        docs, col("doc_id"), col("text"), minLen = 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(trim(1L).getBoolean(trim(1L).fieldIndex("quarantined")))
    assert(trim(1L).isNullAt(trim(1L).fieldIndex("trimmed_text")))
    assert(trim(2L).getString(trim(2L).fieldIndex("trimmed_text")) == "")
    assert(trim(4L).getString(trim(4L).fieldIndex("trimmed_text"))
      == "g1 g2 g3 g4 g5")
  }

  test("exactSubstr fails loudly on doc_id outside the packing range") {
    import spark.implicits._
    // unlike token width (a legitimate big document -> quarantine), an
    // out-of-range id is upstream corruption: no diversion makes the
    // repr packing safe, so the in-plan guard must abort
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    for (bad <- Seq(-1L, 1L << 43)) {
      val docs = Seq((bad, "a b c d e"), (2L, "b c d"))
        .toDF("doc_id", "text")
      val ex = intercept[Throwable] {
        graft.operators.Dedup.exactSubstrCoverage(
          docs, col("doc_id"), col("text"), minLen = 4).collect()
      }
      assert(chain(ex).contains("outside [0, 2^43)"), chain(ex))
    }
  }

  test("exactSubstrCoverage char grain: mid-word substring duplicates word grain cannot see") {
    import spark.implicits._
    // docs share the 6-char run "cdefgh" at char offset 3 — no shared
    // WORD exists (the run cuts mid-token), so word grain reads zero
    // while char grain must find exactly the duplicated-window union:
    // starts 3,4,5 (len-4 windows of a 6-char run), covered [3,9) = 6
    val docs = Seq((1L, "abcdefghij"), (2L, "XXcdefghYY"))
      .toDF("doc_id", "text")
    val ch = graft.operators.Dedup.exactSubstrCoverage(
        docs, col("doc_id"), col("text"), minLen = 4, grain = "char")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(ch(1L) == ((10L, 3L, 6L)), s"$ch")
    assert(ch(2L) == ((10L, 3L, 6L)), s"$ch")
    val wd = graft.operators.Dedup.exactSubstrCoverage(
        docs, col("doc_id"), col("text"), minLen = 4, grain = "word")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(wd(1L) == 0L && wd(2L) == 0L, s"$wd")
  }

  test("exactSubstrTrim char grain: byte spans removed, no-separator rebuild") {
    import spark.implicits._
    // the released tool's transform: the shared 6-char run "cdefgh"
    // (chars [3,9)) trims from BOTH docs and the survivors rejoin with
    // no separator — "ab"+"ij" and "XX"+"YY"
    val docs = Seq((1L, "abcdefghij"), (2L, "XXcdefghYY"))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.exactSubstrTrim(
        docs, col("doc_id"), col("text"), minLen = 4, grain = "char")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((10L, 6L, "abij")), s"$got")
    assert(got(2L) == ((10L, 6L, "XXYY")), s"$got")
  }

  test("exactSubstr byte grain: UTF-8 byte addressing where char grain provably diverges") {
    import spark.implicits._
    // the shared run "äöüéxy" is 6 CHARS but 10 BYTES (four 2-byte
    // chars): the released Lee et al. tool addresses bytes, so byte
    // grain must report n_tokens=14, dup starts 3..9 (seven 4-BYTE
    // windows inside the 10-byte run at byte offset 3), covered 10 —
    // while char grain reads n_tokens=10, starts 3..5, covered 6
    val docs = Seq((1L, "abäöüéxyij"), (2L, "XXäöüéxyYY"))
      .toDF("doc_id", "text")
    val by = graft.operators.Dedup.exactSubstrCoverage(
        docs, col("doc_id"), col("text"), minLen = 4, grain = "byte")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(by(1L) == ((14L, 7L, 10L)), s"$by")
    assert(by(2L) == ((14L, 7L, 10L)), s"$by")
    val ch = graft.operators.Dedup.exactSubstrCoverage(
        docs, col("doc_id"), col("text"), minLen = 4, grain = "char")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(ch(1L) == ((10L, 3L, 6L)) && ch(1L) != by(1L), s"$ch")
    // byte-grain trim removes the 10-byte run and decodes the survivors
    val tr = graft.operators.Dedup.exactSubstrTrim(
        docs, col("doc_id"), col("text"), minLen = 4, grain = "byte")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(tr(1L) == ((14L, 10L, "abij")), s"$tr")
    assert(tr(2L) == ((14L, 10L, "XXYY")), s"$tr")
    // MID-CHAR cut (r15 review): 'ä'=C3A4 and 'ɤ'=C9A4 share only their
    // TRAIL byte, so the duplicated run "A4 q r s t" starts inside a
    // character and the survivors end in a dangling C3/C9 lead byte —
    // Spark's builtin decode() throws MALFORMED_CHARACTER_CODING there
    // and one such doc would abort a corpus trim; the lenient decoder
    // must substitute U+FFFD and complete
    val mid = Seq((1L, "xäqrst"), (2L, "yɤqrst")).toDF("doc_id", "text")
    val mt = graft.operators.Dedup.exactSubstrTrim(
        mid, col("doc_id"), col("text"), minLen = 4, grain = "byte")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(mt(1L) == ((7L, 5L, "x�")), s"$mt")
    assert(mt(2L) == ((7L, 5L, "y�")), s"$mt")
  }

  test("exactSubstrCoverageSegmented: over-width docs dedup via overlap segments") {
    import spark.implicits._
    // r14 VERDICT #2: the quarantine contract left a >= 2^20-token book
    // out of dedup entirely; segmentation must detect its duplicated
    // spans EXACTLY. Plant three shared spans in a giant of 2^20 + 60
    // unique tokens: one in segment 0, one whose window starts lie in
    // segment 1's start range, and one STRADDLING the stride boundary
    // (the case the minLen-1 overlap exists for). The in-test oracle is
    // dupSpanFraction — the every-offset md5-gram formulation with no
    // width limit — equal by the coverage-equivalence theorem.
    val minLen = 4
    val S = (1 << 20) - minLen
    val n = (1 << 20) + 60
    val giant = Array.tabulate(n)(i => s"u${i + 1}") // 1-based pos i+1
    def plant(span: Seq[String], pos1: Int): Unit =
      span.zipWithIndex.foreach { case (t, i) => giant(pos1 - 1 + i) = t }
    val spanA = (1 to 20).map(i => s"A$i")
    val spanB = (1 to 20).map(i => s"B$i")
    val spanC = (1 to 20).map(i => s"C$i")
    plant(spanA, 10)      // all window starts in segment 0
    plant(spanB, n - 39)  // all window starts past S -> segment 1
    plant(spanC, S - 9)   // starts S-9..S+7 straddle the boundary
    val docs = Seq(
      (5L, giant.mkString(" ")),
      (2L, spanA.mkString(" ")),
      (3L, spanB.mkString(" ")),
      (4L, spanC.mkString(" "))).toDF("doc_id", "text")
    val got = graft.operators.Dedup.exactSubstrCoverageSegmented(
        docs, col("doc_id"), col("text"), minLen = minLen)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!got(5L).getBoolean(got(5L).fieldIndex("quarantined")),
      "giant must participate, not quarantine")
    val oracle = graft.operators.Dedup.dupSpanFraction(
        docs, col("doc_id"), col("text"), g = minLen)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    got.foreach { case (id, r) =>
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == oracle(id),
        s"doc $id: segmented ${r} != gram oracle ${oracle(id)}")
    }
    // the giant's three 20-token spans each cover 20 positions
    assert(got(5L).getLong(got(5L).fieldIndex("covered_tokens")) == 60L)
    // and the segmented TRIM actually removes them: bit-equal to the
    // width-unlimited gram trim (dupSpanTrim at g = minLen) doc-by-doc,
    // including the giant's reassembled megabyte-scale survivor text —
    // the complement-interval rebuild at work
    val trim = graft.operators.Dedup.exactSubstrTrimSegmented(
        docs, col("doc_id"), col("text"), minLen = minLen)
      .select("doc_id", "n_tokens", "n_removed", "trimmed_text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val gramTrim = graft.operators.Dedup.dupSpanTrim(
        docs, col("doc_id"), col("text"), g = minLen)
      .select("doc_id", "n_tokens", "n_removed", "trimmed_text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(trim == gramTrim, "segmented trim != width-unlimited gram trim")
    assert(trim(5L)._2 == 60L, s"giant n_removed ${trim(5L)._2}")
  }

  test("exactSubstr grain inits: char/byte numeric rank ≡ word-style groupBy rank classes") {
    import spark.implicits._
    // r16: char/byte grains replace the rank_1 min-representative
    // groupBy with an injective numeric map (UTF-8 bytes as a number /
    // hex-pair value). Coverage must be unchanged on a corpus with
    // multi-byte chars and planted duplicate spans crossing char
    // widths.
    val base = "el niño bebé compró 【quarantine】 piñata música " * 3
    val docs = Seq(
      (10L, base + " tail uno"),
      (11L, base + " tail dos"),
      (12L, "unrelated short doc sin duplicados aquí")).toDF("doc_id", "text")
    for (grain <- Seq("char", "byte")) {
      val got = graft.operators.Dedup.exactSubstrCoverage(
          docs, col("doc_id"), col("text"), minLen = 40, grain = grain)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(3))).toMap
      // independent every-offset check at the same grain: duplicated
      // 40-window starts via a brute-force substring multiset
      val toksOf: String => Vector[String] = grain match {
        case "char" => s => s.map(_.toString).toVector
        case _ => s => s.getBytes("UTF-8").toVector
          .map(b => f"${b & 0xff}%02X")
      }
      val all = docs.collect().map(r => r.getLong(0) -> toksOf(r.getString(1)))
      val counts = scala.collection.mutable.Map.empty[String, Int]
      for ((_, w) <- all; i <- 0 to w.length - 40)
        counts(w.slice(i, i + 40).mkString(" ")) =
          counts.getOrElse(w.slice(i, i + 40).mkString(" "), 0) + 1
      val expect = all.map { case (id, w) =>
        val marks = (0 to w.length - 40).filter(i =>
          counts(w.slice(i, i + 40).mkString(" ")) >= 2)
        var reach = 0L; var cov = 0L
        marks.foreach { i =>
          val p = i + 1L
          cov += math.max(0L, p + 40 - math.max(reach, p))
          reach = math.max(reach, p + 40)
        }
        id -> ((w.length.toLong, cov))
      }.toMap
      assert(got == expect, s"grain=$grain coverage diverges from brute force")
    }
  }

  test("exactSubstrTrimKeepFirst byte grain: doc-major winner on multi-byte text, lenient mid-char decode") {
    import spark.implicits._
    // shared run "äöüéabc" = 11 BYTES at byte offset 3 in both docs;
    // keep-first at grain="byte" must hand every window class to doc 1
    // (doc-major argmin), so doc 1 survives INTACT and doc 2 trims the
    // whole byte span — the winner rule is grain-independent
    val docs = Seq((1L, "xxäöüéabc"), (2L, "yyäöüéabc"))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.exactSubstrTrimKeepFirst(
        docs, col("doc_id"), col("text"), minLen = 4, grain = "byte")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((13L, 0L, "xxäöüéabc")), s"$got")
    assert(got(2L) == ((13L, 11L, "yy")), s"$got")
    // MID-CHAR winner cut: 'ä'=C3A4 / 'ɤ'=C9A4 share only their trail
    // byte, so the loser's surviving prefix ends in a dangling lead
    // byte — keep-first's rebuild must decode leniently (U+FFFD), not
    // abort the corpus
    val mid = Seq((1L, "xäqrst"), (2L, "yɤqrst")).toDF("doc_id", "text")
    val mt = graft.operators.Dedup.exactSubstrTrimKeepFirst(
        mid, col("doc_id"), col("text"), minLen = 4, grain = "byte")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(mt(1L) == ((7L, 0L, "xäqrst")), s"$mt")
    assert(mt(2L) == ((7L, 5L, "y�")), s"$mt")
  }

  test("exactSubstrTrimKeepFirstSegmented: winner is the DECODED argmin, giants can win") {
    import spark.implicits._
    // the r15 VERDICT #4 trap: synthetic segment ids (2^42 + doc·2^10
    // + k) sort after every direct id, so an argmin over the packed
    // representative would hand every giant-vs-small class to the
    // small doc. Here the GIANT has the smaller doc_id (1 < 9): it
    // must keep the shared span and doc 9 must trim to empty. The
    // giant also self-repeats span Y across two segments — keep-first
    // keeps the FIRST original occurrence (pos 10), trimming only the
    // second, so decoded-order must hold WITHIN the giant too.
    val minLen = 4
    val S = (1 << 20) - minLen
    val n = (1 << 20) + 60
    val giant = Array.tabulate(n)(i => s"u${i + 1}")
    def plant(span: Seq[String], pos1: Int): Unit =
      span.zipWithIndex.foreach { case (t, i) => giant(pos1 - 1 + i) = t }
    val spanX = (1 to 20).map(i => s"X$i")
    val spanY = (1 to 20).map(i => s"Y$i")
    plant(spanY, 10)      // first Y copy: segment 0
    plant(spanY, n - 39)  // second Y copy: segment 1 -> must trim
    plant(spanX, S - 9)   // X straddles the stride boundary
    val docs = Seq(
      (1L, giant.mkString(" ")),
      (9L, spanX.mkString(" "))).toDF("doc_id", "text")
    val got = graft.operators.Dedup.exactSubstrTrimKeepFirstSegmented(
        docs, col("doc_id"), col("text"), minLen = minLen)
      .select("doc_id", "n_tokens", "n_removed", "quarantined")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(1L) == ((n.toLong, 20L, false)),
      s"giant must keep span X and Y's first copy, trim Y's second: $got")
    assert(got(9L) == ((20L, 20L, false)),
      s"doc 9 must lose the whole shared span to the giant: $got")
  }

  test("exactSubstrCoverageSegmented == exactSubstrCoverage on an all-direct corpus") {
    // no over-width docs -> the segmented path must be a bit-exact
    // superset-free rewrite of the plain operator (same rank build,
    // identity mark mapping)
    val docs = Tables.documents(spark, testDataDir)
      .select(col("doc_id"), col("text")).limit(200)
    val seg = graft.operators.Dedup.exactSubstrCoverageSegmented(
      docs, col("doc_id"), col("text"), minLen = 25).collect().toSet
    val plain = graft.operators.Dedup.exactSubstrCoverage(
      docs, col("doc_id"), col("text"), minLen = 25).collect().toSet
    assert(seg == plain)
  }

  test("WindowKeys: one key per window start, equal windows share a key, codegen == eval") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def keys(toks: Seq[String], len: Int): Seq[Long] =
      graft.plans.WindowKeys.ofTokens(ArrayData.toArrayData(
        toks.map(UTF8String.fromString).toArray), len).toLongArray().toSeq
    val k = keys(Seq("a", "b", "c", "a", "b", "c", "d"), 3)
    assert(k.length == 5)
    assert(k(0) == k(3), "equal windows 'a b c' keyed apart")
    assert(k.distinct.length == 4, s"unequal windows collided: $k")
    assert(keys(Seq("a", "b"), 3).isEmpty)
    // byte grain: a byte string keys like the token array of its bytes'
    // windows (equal byte windows, equal keys), rolled across the row
    val bk = graft.plans.WindowKeys.ofBytes("xyzxyz".getBytes("UTF-8"), 3)
      .toLongArray()
    assert(bk.length == 4 && bk(0) == bk(3) && bk(0) != bk(1))
    // the generated-code path returns exactly what the static kernel does
    val rows = Seq(Seq("a", "b", "c", "a", "b", "c", "d"), Seq("q"), Seq.empty[String])
    val got = rows.toDF("w").select(org.apache.spark.sql.GraftShims.column(
        graft.plans.WindowKeysExpr(
          org.apache.spark.sql.GraftShims.expression(col("w")), 3)))
      .collect().map(_.getSeq[Long](0)).toSeq
    assert(got == rows.map(keys(_, 3)))
  }

  test("exactSubstr key collisions: a 4-bit key mask changes no result at any grain") {
    // the (key, content) regroup is what makes detection exact: with the
    // window keys masked to 4 bits nearly every bucket mixes unequal
    // windows, and coverage, trim and keep-first trim must still equal
    // the full-key run row for row
    val docs = Tables.documents(spark, testDataDir)
      .select(col("doc_id"), col("text")).limit(60)
    val clones = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("substring(text, 7, 400)").as("text"))
    val corpus = docs.unionByName(clones)
    for ((grain, minLen) <- Seq(("word", 25), ("char", 40), ("byte", 40));
         (trim, keepFirst) <- Seq((false, false), (true, false), (true, true))) {
      def run(mask: Long) = Dedup.exactSubstrSpans(corpus, col("doc_id"),
          col("text"), minLen, grain, widthLimit = 1L << 20, trim = trim,
          keepFirst = keepFirst, keyMask = mask)
        .collect().toSet
      val full = run(-1L)
      // column 2 is n_dup_starts (coverage) or n_removed (trims)
      assert(full.exists(r => !r.isNullAt(2) && r.getLong(2) > 0L),
        s"grain=$grain: nothing duplicated, the comparison is vacuous")
      assert(run(0xFL) == full,
        s"grain=$grain trim=$trim keepFirst=$keepFirst: key collisions leaked")
    }
  }

  test("exactSubstr coverage and trim leave no persisted blocks") {
    // detection runs as one plan per write: nothing is checkpointed or
    // cached, so nothing can outlive the write in block storage
    val docs = Tables.documents(spark, testDataDir)
      .select(col("doc_id"), col("text")).limit(120)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.exactSubstrCoverage(docs, col("doc_id"), col("text"))
      .write.format("noop").mode("overwrite").save()
    Dedup.exactSubstrTrim(docs, col("doc_id"), col("text"))
      .write.format("noop").mode("overwrite").save()
    val gained = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(gained.isEmpty, s"persisted RDDs left behind: $gained")
  }

  test("exactSubstrTrimFromMarks: incremental trim serve == batch trim over frozen ∪ delta") {
    import org.apache.spark.sql.functions.expr
    // the r14 residual: state stored marks but had no trim-shaped serve.
    // Freeze, fold a delta, serve trim from the updated marks — equal to
    // the batch trim over the union (gram marks == rank marks here)
    val frozen = Tables.documents(spark, testDataDir)
      .select(col("doc_id"), col("text")).limit(120)
    val delta = frozen.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 500000L).as("doc_id"),
        expr("concat_ws(' ', slice(split(text, ' '), 2, 50))").as("text"))
    val (d0, m0, r0) = graft.operators.Dedup.exactSubstrGramState(
      frozen, col("doc_id"), col("text"), minLen = 25)
    val (_, m1, _) = graft.operators.Dedup.exactSubstrIncremental(
      d0, m0, r0, delta, col("doc_id"), col("text"), minLen = 25)
    val union = frozen.unionByName(delta)
    val served = graft.operators.Dedup.exactSubstrTrimFromMarks(
      union, col("doc_id"), col("text"), m1, minLen = 25)
      .collect().toSet
    val batch = graft.operators.Dedup.exactSubstrTrim(
      union, col("doc_id"), col("text"), minLen = 25).collect().toSet
    assert(served == batch)
  }

  test("exactSubstrIncremental rejects a delta doc_id already frozen") {
    import spark.implicits._
    // a re-folded delta would double-count grams and duplicate docs
    // rows (r14 ADVICE); the in-plan guard must fail loudly instead
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    val frozen = Seq((1L, "a b c d e"), (2L, "f g h i j"))
      .toDF("doc_id", "text")
    val (d0, m0, r0) = graft.operators.Dedup.exactSubstrGramState(
      frozen, col("doc_id"), col("text"), minLen = 4)
    val ex = intercept[Throwable] {
      val (_, m1, _) = graft.operators.Dedup.exactSubstrIncremental(
        d0, m0, r0, Seq((2L, "a b c d e")).toDF("doc_id", "text"),
        col("doc_id"), col("text"), minLen = 4)
      m1.collect()
    }
    assert(chain(ex).contains("already in frozen docs"), chain(ex))
  }

  test("exactSubstrIncremental == full recompute over frozen ∪ delta (bit-equal)") {
    import spark.implicits._
    // the graded contract, run in-engine: freeze a corpus, fold in a
    // delta that (a) duplicates frozen spans — previously-unique frozen
    // grams must RETRO-mark via their registry slot — and (b) contains
    // its own internal duplicate pair with no frozen hit; the served
    // coverage must equal both the gram full recompute AND the exact
    // suffix-rank operator (coverage equivalence, no md5 collision at
    // this scale)
    val frozen = Tables.documents(spark, testDataDir)
      .select(col("doc_id"), col("text")).limit(150)
    val clones = frozen.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("concat_ws(' ', slice(split(text, ' '), 3, 60))").as("text"))
    val rev = frozen.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        concat_ws(" ", reverse(split(col("text"), " "))).as("text"))
    val delta = clones
      .unionByName(rev.select((col("doc_id") + 2000000L).as("doc_id"),
        col("text")))
      .unionByName(rev.select((col("doc_id") + 3000000L).as("doc_id"),
        col("text")))
    val (d0, m0, r0) = graft.operators.Dedup.exactSubstrGramState(
      frozen, col("doc_id"), col("text"), minLen = 25)
    val (d1, m1, r1) = graft.operators.Dedup.exactSubstrIncremental(
      d0, m0, r0, delta, col("doc_id"), col("text"), minLen = 25)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_tokens", "n_dup_starts", "covered_tokens")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val inc = asMap(graft.operators.Dedup.exactSubstrCoverageFromMarks(
      d1, m1, minLen = 25))
    val union = frozen.unionByName(delta)
    val full = asMap(graft.operators.Dedup.exactSubstrCoverage(
      union, col("doc_id"), col("text"), minLen = 25))
    assert(inc == full, "incremental fold diverged from full recompute")
    // both retro-mark directions actually fired
    val frozenIds = frozen.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(inc.exists { case (id, (_, s, _)) => frozenIds(id) && s > 0 },
      "no frozen doc was retro-marked")
    assert(inc.exists { case (id, (_, s, _)) => id >= 2000000L && s > 0 },
      "no delta-internal duplicate marked")
    // the merged registry equals a from-scratch state build (mergeable-
    // summary property): same (h, cnt) multiset and same unique slots
    val (_, _, rFull) = graft.operators.Dedup.exactSubstrGramState(
      union, col("doc_id"), col("text"), minLen = 25)
    assert(r1.exceptAll(rFull).isEmpty && rFull.exceptAll(r1).isEmpty,
      "merged registry != from-scratch registry")
  }

  test("exactSubstrTrimKeepFirst: duplicated spans survive in exactly one place") {
    import spark.implicits._
    def toks(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i")
    // cross-doc 50-span: the smaller doc id wins EVERY window class of
    // the span (min repr is doc-major), so doc 1 keeps it INTACT and
    // doc 2 trims the whole span — whole-span, never ragged fragments
    val span50 = toks("t", 50)
    val d1 = toks("c", 7) ++ span50 ++ toks("c2", 13) // 70 tokens
    val d2 = span50 ++ toks("d", 40)                  // 90 tokens
    // self-repetition: the same 30-token run twice with a 5-token gap —
    // the FIRST occurrence survives, the second trims exactly
    val run30 = toks("r", 30)
    val d3 = run30 ++ toks("g", 5) ++ run30           // 65 tokens
    val docs = Seq(1L -> d1, 2L -> d2, 3L -> d3)
      .map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
    val got = graft.operators.Dedup.exactSubstrTrimKeepFirst(
        docs, col("doc_id"), col("text"), minLen = 25)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((70L, 0L, d1.mkString(" "))), s"$got")
    assert(got(2L) == ((90L, 50L, toks("d", 40).mkString(" "))), s"$got")
    assert(got(3L) == ((65L, 30L,
      (run30 ++ toks("g", 5)).mkString(" "))), s"$got")
    // and remove-all on the same corpus keeps NO copy anywhere
    val all = graft.operators.Dedup.exactSubstrTrim(
        docs, col("doc_id"), col("text"), minLen = 25)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(all == Map(1L -> 50L, 2L -> 50L, 3L -> 60L), s"$all")
  }

  test("dupSpanTrim: merges overlapping spans, keeps gap tokens, passes unique docs") {
    import spark.implicits._
    val docs = Seq(
      // cross-doc duplicated prefix+suffix with distinct middles: the two
      // 3-gram spans [1,4) and [5,8) do NOT merge (gap 4 > g), token 4
      // survives in each doc
      (1L, "m1 m2 m3 k m4 m5 m6"),
      (2L, "m1 m2 m3 zz m4 m5 m6"),
      // self-repetition: every 3-gram duplicated, overlapping starts
      // 1..6 merge into ONE interval [1, 9) -> everything trims
      (3L, "p q p q p q p q"),
      // no duplicated grams -> untouched
      (4L, "u1 u2 u3 u4 u5"),
      // shorter than g -> no grams -> untouched
      (5L, "s1 s2")).toDF("doc_id", "text")
    val got = graft.operators.Dedup.dupSpanTrim(docs,
        col("doc_id"), col("text"), g = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((7L, 6L, "k")), s"$got")
    assert(got(2L) == ((7L, 6L, "zz")), s"$got")
    assert(got(3L) == ((8L, 8L, "")), s"$got")
    assert(got(4L) == ((5L, 0L, "u1 u2 u3 u4 u5")), s"$got")
    assert(got(5L) == ((2L, 0L, "s1 s2")), s"$got")
    // adjacency boundary: gap EXACTLY g merges (spans [1,4)+[4,7) are
    // contiguous): "a b c" and "d e f" both duplicated via doc 7
    val adj = Seq((6L, "a b c d e f"), (7L, "a b c x1"), (8L, "x2 d e f"))
      .toDF("doc_id", "text")
    val got2 = graft.operators.Dedup.dupSpanTrim(adj,
        col("doc_id"), col("text"), g = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got2(6L) == ((6L, 6L, "")), s"$got2")
    // n_removed agrees with dupSpanFraction's covered_tokens on the
    // same corpus (interval-union arithmetic shared by construction)
    val frac = graft.operators.Dedup.dupSpanFraction(docs,
        col("doc_id"), col("text"), g = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    got.foreach { case (id, (_, nRemoved, _)) =>
      assert(frac(id) == nRemoved, s"doc $id: $frac vs $got")
    }
  }

  test("winnowCandidatePairs: shared span surfaces, stopword fingerprints capped") {
    import spark.implicits._
    // docs 1/2 share a 60-char span behind different affixes -> the pair
    // must surface with several shared fingerprints; 25 docs share only
    // a short common phrase -> its fingerprints sit in >cap docs, are
    // excluded as scheme-stopwords, and no pair forms among them
    val span = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJKLMNOPQRSTUVWX"
    val crowd = (10L until 35L).map(i =>
      (i, s"the quick brown fox jumps over unique$i tail${i * 7}"))
    val docs = (Seq(
      (1L, s"xx1yy $span zzq1"),
      (2L, s"qq2 $span ttv2")) ++ crowd).toDF("doc_id", "text")
    val got = graft.operators.Dedup.winnowCandidatePairs(docs,
        col("doc_id"), col("text"), k = 8, w = 4,
        maxDocsPerFp = 20L, minShared = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got.contains((1L, 2L)) && got((1L, 2L)) >= 3L, s"$got")
    assert(got.keySet.forall { case (i, j) => i < 10L && j < 10L },
      s"capped stopword fingerprints leaked pairs: $got")
    // raising the cap above the crowd size brings the crowd pairs back
    val uncapped = graft.operators.Dedup.winnowCandidatePairs(docs,
        col("doc_id"), col("text"), k = 8, w = 4,
        maxDocsPerFp = 30L, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(uncapped.exists { case (i, j) => i >= 10L && j >= 10L },
      s"${uncapped.toSeq.take(5)}")
  }

  test("winnowIncremental: fold == batch recompute; cap-crossing retracts stored pairs") {
    import spark.implicits._
    def pmap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    // engineered retraction at cap 3: frozen docs 1/2 share a 60-char
    // span (pair stored with real support); the delta adds two more
    // docs carrying the SAME span, pushing every span fingerprint past
    // the cap — batch semantics exclude them entirely, so the stored
    // (1,2) support must RETRACT to whatever the batch reads
    val span = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJKLMNOPQRSTUVWX"
    val frozen = Seq(
      (1L, s"xx1yy $span zzq1"),
      (2L, s"qq2 $span ttv2")).toDF("doc_id", "text")
    val (d0, r0, p0) = graft.operators.Dedup.winnowPairState(
      frozen, col("doc_id"), col("text"), k = 8, w = 4,
      maxDocsPerFp = 3L)
    val s0 = pmap(p0).getOrElse((1L, 2L), 0L)
    assert(s0 >= 3L, s"span pair not stored: ${pmap(p0)}")
    val delta = Seq((7L, s"aa7 $span bb7"), (8L, s"cc8 $span dd8"))
      .toDF("doc_id", "text")
    val (_, r1, p1) = graft.operators.Dedup.winnowIncremental(
      d0, r0, p0, delta, col("doc_id"), col("text"), k = 8, w = 4,
      maxDocsPerFp = 3L)
    val union = frozen.unionByName(delta)
    val batch = pmap(graft.operators.Dedup.winnowCandidatePairs(
      union, col("doc_id"), col("text"), k = 8, w = 4,
      maxDocsPerFp = 3L, minShared = 1L))
    assert(pmap(graft.operators.Dedup.winnowPairsFromState(p1, 1L))
      == batch, "fold diverged from batch recompute")
    assert(batch.getOrElse((1L, 2L), 0L) < s0,
      "cap crossing did not retract the stored pair support")
    // the merged registry equals a from-scratch state build
    val (_, rFull, _) = graft.operators.Dedup.winnowPairState(
      union, col("doc_id"), col("text"), k = 8, w = 4,
      maxDocsPerFp = 3L)
    assert(r1.exceptAll(rFull).isEmpty && rFull.exceptAll(r1).isEmpty,
      "merged registry != from-scratch registry")
    // a frozen doc_id reappearing in a delta fails loudly (the
    // exactSubstrIncremental precondition, guarded in-plan here too)
    val ex = intercept[Throwable] {
      val (_, _, pBad) = graft.operators.Dedup.winnowIncremental(
        d0, r0, p0, Seq((2L, "zz reused id zz")).toDF("doc_id", "text"),
        col("doc_id"), col("text"), k = 8, w = 4, maxDocsPerFp = 3L)
      pBad.collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    assert(chain(ex).contains("already in frozen docs"), chain(ex))
    // and on real docs with mixed adds (full clones + prefix clones)
    val docs = Tables.documents(spark, testDataDir)
      .select(col("doc_id"), col("text")).limit(150)
    val d2 = docs.filter(col("doc_id") % 6 === 0)
      .select((col("doc_id") + 700000L).as("doc_id"),
        expr("substring(text, 1, 100)").as("text"))
    val (da, ra, pa) = graft.operators.Dedup.winnowPairState(
      docs, col("doc_id"), col("text"), k = 8, w = 4,
      maxDocsPerFp = 20L)
    val (_, _, pb) = graft.operators.Dedup.winnowIncremental(
      da, ra, pa, d2, col("doc_id"), col("text"), k = 8, w = 4,
      maxDocsPerFp = 20L)
    val batch2 = pmap(graft.operators.Dedup.winnowCandidatePairs(
      docs.unionByName(d2), col("doc_id"), col("text"), k = 8, w = 4,
      maxDocsPerFp = 20L, minShared = 3L))
    assert(pmap(graft.operators.Dedup.winnowPairsFromState(pb, 3L))
      == batch2, "real-corpus fold diverged from batch recompute")
  }

  test("winnowFingerprints: shared long substring guarantees a common fingerprint") {
    import spark.implicits._
    val shared = "zqxjkvbnmlpwortyu" // 17 chars >= w + k - 1 = 11
    val docs = Seq(
      (1L, "aaaa bbbb cccc " + shared + " dddd eeee"),
      (2L, "ffff gggg " + shared + " hhhh iiii jjjj"),
      (3L, "kkkk llll mmmm nnnn oooo pppp qqqq")).toDF("doc_id", "text")
    val fps = graft.operators.Dedup.winnowFingerprints(
        docs, col("doc_id"), col("text"), k = 8, w = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty,
      "winnowing guarantee violated: shared 17-char span, no common fp")
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
    // density: selected fingerprints are a strict subsample of shingles
    assert(byDoc(1L).size < docs.filter(col("doc_id") === 1L)
      .select(length(col("text"))).head().getInt(0) - 7)
  }

  test("resourceAllocationPairs: exact micro scores, edge exclusion, hub cap audit") {
    import spark.implicits._
    // square 1-2-3-4 with diagonal 1-3: candidate (1,3) IS an edge ->
    // excluded; (2,4)'s common neighbors are 1 and 3 (deg 3 each) ->
    // score 2 * (10^6 div 3). A 5-leaf star at 100 exceeds the cap of 4:
    // its wedges are dropped and the audit column counts the hub.
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)) ++
      (200L to 204L).map(l => (100L, l))).toDF("src", "dst")
    val got = graft.operators.Joins.resourceAllocationPairs(
      edges, maxWedgeDegree = 4L, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((2L, 4L, 666666L, 2L, 1L)), s"${got.toSeq}")
    // without the cap the star's leaf pairs surface with score 10^6 div 5
    val uncapped = graft.operators.Joins.resourceAllocationPairs(
      edges, maxWedgeDegree = 64L, topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(uncapped.head == ((2L, 4L, 666666L)), s"${uncapped.toSeq}")
    // deterministic tie order among equal-scored star pairs: (a, b) asc
    assert(uncapped.drop(1).toSeq ==
      Seq((200L, 201L, 200000L), (200L, 202L, 200000L)),
      s"${uncapped.toSeq}")
  }

  test("resourceAllocationScoresSampled: per-pair error band on fixed candidates") {
    import spark.implicits._
    // the SOUND sampled contract (candidates fixed BEFORE the sample —
    // no winner's-curse selection): a bipartite co-access graph of
    // 300 users × 60 items with varying popularity; the exact top-30
    // pairs hold t ≈ 100-170 wedges each, so at q = 1/2 the Hoeffding
    // relative σ = √((1−q²)/(t·q²)) ≈ 0.14 and every fixed-pair
    // estimate must sit well inside ±4σ with near-zero mean error.
    // Graph seeded + hash-derived sample → deterministic pin.
    val rnd = new scala.util.Random(42)
    val edges = (for {
      u <- 1L to 300L
      i <- 0 until 60
      if rnd.nextDouble() < 0.25 + 0.5 * i / 60.0
    } yield (u, 1001001L + i)).toDF("src", "dst")
    val exact = graft.operators.Joins.resourceAllocationPairs(
        edges, maxWedgeDegree = 512L, topK = 30)
      .select("a", "b", "score_micro").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
    val cands = exact.map(_._1).toSeq.toDF("a", "b")
    val est = graft.operators.Joins.resourceAllocationScoresSampled(
        edges, cands, maxWedgeDegree = 512L, sampleDiv = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(est.size == 30, s"${est.size} rows for 30 candidates")
    val errs = exact.map { case (p, s) => (est(p) - s).toDouble / s }
    errs.foreach(e => assert(math.abs(e) <= 0.5, s"rel err $e"))
    val mean = errs.sum / errs.length
    assert(math.abs(mean) <= 0.1,
      f"mean signed error $mean%.3f — estimator biased")
    // zero-fill contract: a candidate no surviving wedge ever touches
    // still emits its row with zero evidence
    val ghost = graft.operators.Joins.resourceAllocationScoresSampled(
        edges, Seq((900001L, 900002L)).toDF("a", "b"),
        maxWedgeDegree = 512L, sampleDiv = 2)
      .collect()
    assert(ghost.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq == Seq((900001L, 900002L, 0L, 0L)))
  }

  test("resourceAllocationPairs is plan-building only: zero jobs at call time") {
    import spark.implicits._
    // r11 VERDICT #1: the eager audit count charged every caller a full
    // degree-table pass at plan-build time. The wrapper must now be
    // purely lazy — construction runs NO Spark job; the audit count
    // rides along as a one-row broadcast aggregate. Listener events are
    // async, so a sentinel job ordered AFTER construction proves
    // delivery: once the sentinel's event arrives, any construction-job
    // event would already have been delivered before it.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
      .localCheckpoint() // input materialized OUTSIDE the window
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = graft.operators.Joins.resourceAllocationPairs(edges, 4L, 10)
      // RDD-level sentinel: exactly ONE job (a SQL count under AQE can
      // split into several), ordered after any construction-time job
      spark.sparkContext.parallelize(Seq(1)).count()
      val deadline = System.nanoTime() + 10000000000L
      while (jobs.get() < 1 && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobs.get() == 1,
        s"construction ran ${jobs.get() - 1} Spark job(s); must be lazy")
      // and the plan still carries the audit column when acted on
      assert(df.columns.last == "n_hubs_dropped")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("hitsScores: rounds >= 4 releases superseded checkpoints (O(1) storage)") {
    import spark.implicits._
    // r11 ADVICE: every alternate-round checkpoint pair was retained for
    // the plan's lifetime. After a 6-round run only the edge checkpoint
    // and the LAST pair may remain cached — and the unpersisting must
    // not change a single score, proven against the same sequential
    // BigInt replay the property spec uses.
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 1L), (2L, 4L), (1L, 5L))
    val before = spark.sparkContext.getPersistentRDDs.size
    val got = graft.operators.Joins.hitsScores(es.toDF("src", "dst"),
        rounds = 6)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 3,
      s"hitsScores leaked cached frames: $before -> $after")
    var h = es.map(_._1).distinct.map(_ -> BigInt(1000000)).toMap
    var aFin = Map.empty[Long, BigInt]
    for (_ <- 1 to 6) {
      val ar = es.groupBy(_._2).view.mapValues(
        _.map(x => h.getOrElse(x._1, BigInt(0))).sum).toMap
      val am = ar.values.max
      aFin = ar.view.mapValues(v => v * 1000000 / am).toMap
      val hr = es.groupBy(_._1).view.mapValues(
        _.map(x => aFin.getOrElse(x._2, BigInt(0))).sum).toMap
      val hm = hr.values.max
      h = hr.view.mapValues(v => v * 1000000 / hm).toMap
    }
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    nodes.foreach { nd =>
      assert(got(nd) == ((aFin.getOrElse(nd, BigInt(0)).toLong,
        h.getOrElse(nd, BigInt(0)).toLong)), s"node $nd: $got")
    }
  }

  test("pageRankPersonalized: matches an independent sequential fold exactly") {
    import spark.implicits._
    // independent in-memory replay of the integer recurrence (the
    // PropertySpec discipline): same floor divisions, same order
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 1L),
      (4L, 5L), (2L, 1L)).toDF("src", "dst")
    val seedIds = Seq(1L, 4L)
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 1L),
      (4L, 5L), (2L, 1L))
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val outd = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val tpSeed = 150000L * nodes.size / seedIds.size
    val tp = nodes.map(v =>
      v -> (if (seedIds.contains(v)) tpSeed else 0L)).toMap
    var pr = tp
    for (_ <- 1 to 6) {
      val contrib = es.groupBy(_._2).view.mapValues(ins =>
        ins.map(e => pr(e._1) / outd(e._1)).sum).toMap
      pr = nodes.map(v =>
        v -> (tp(v) + 850L * contrib.getOrElse(v, 0L) / 1000L)).toMap
    }
    val got = graft.operators.Joins.pageRankPersonalized(
      edges, seedIds.toDF("node"), iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == pr, s"got=$got expected=$pr")
  }

  test("pageRankPersonalized: strict localization and the no-in-edge seed") {
    import spark.implicits._
    // two disconnected cycles; seeding {1,2,3,20} leaves the other
    // cycle at EXACTLY 0 under teleport-vector init, and the
    // no-in-edge seed 20 holds exactly its teleport share
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L), (20L, 1L)).toDF("src", "dst")
    val seeds = Seq(1L, 2L, 3L, 20L).toDF("node")
    val got = graft.operators.Joins.pageRankPersonalized(
      edges, seeds, iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // N = 7 nodes, |S| = 4 -> tpSeed = 150000 * 7 / 4 = 262500
    assert(Seq(10L, 11L, 12L).forall(got(_) == 0L), s"$got")
    assert(got(20L) == 262500L, s"$got") // teleport only: no in-edges
    assert(Seq(1L, 2L, 3L).forall(got(_) > 262500L), s"$got")
    assert(got.size == 7)
    // seeds outside the graph are ignored; an empty effective seed set throws
    val bad = intercept[IllegalArgumentException] {
      graft.operators.Joins.pageRankPersonalized(
        edges, Seq(999L).toDF("node"), iterations = 2)
    }
    assert(bad.getMessage.contains("no seed"))
  }

  test("noveltyScores: first occurrence wins, clones score zero, short docs drop") {
    import spark.implicits._
    // doc 1: "a b c d" -> shingles {a b, b c, c d} (n=2), all first -> 10^6
    // doc 2 clones doc 1 -> 0 novel; doc 3 shares one shingle ("a b")
    // and adds two new ones -> 2/3; doc 4 is a single word -> no output
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"),
      (3L, "x a b y"), (4L, "solo")).toDF("doc_id", "text")
    val got = graft.operators.Dedup.noveltyScores(
      docs, col("doc_id"), col("text"), n = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == ((3L, 3L, 1000000L)), s"$got")
    assert(got(2L) == ((3L, 0L, 0L)), s"$got")
    assert(got(3L) == ((3L, 2L, 666666L)), s"$got")
    assert(got.size == 3)
  }

  test("topkSummariesWeighted: weight flips the ranking; bounds still contain truth") {
    import spark.implicits._
    // term "many" wins on row count (3 rows × weight 1), "huge" wins on
    // weight (1 row × 100) — the weighted ranking must invert the
    // count-based one; "mid" straddles periods so the eps accounting
    // runs over weighted sums
    val rows = Seq(("p1", "many", 1L), ("p1", "many", 1L), ("p1", "many", 1L),
      ("p1", "huge", 100L), ("p1", "mid", 10L), ("p1", "tiny", 2L),
      ("p2", "mid", 30L), ("p2", "huge", 5L), ("p2", "small", 4L))
    val df = rows.toDF("p", "t", "w")
    val sums = graft.operators.Sketches.topkSummariesWeighted(
      df, col("p"), col("t"), col("w"), k = 2)
    // p1 top-2 by weight: huge 100, mid 10; eps1 = 3 (many's sum)
    // p2 top-2: mid 30, huge 5; eps2 = 4 (small)
    val got = graft.operators.Sketches.topkMerge(sums, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // only tracked terms can surface: "many" (rank 3 in p1 by weight,
    // despite winning on row count) is truncated from every summary
    assert(got.toSeq == Seq(("huge", 105L, 105L), ("mid", 40L, 40L)),
      s"got ${got.toSeq}")
    val truth = rows.groupBy(_._2).view
      .mapValues(_.map(_._3).sum).toMap
    got.foreach { case (t, lo, hi) =>
      assert(lo <= truth(t) && truth(t) <= hi, s"$t: [$lo,$hi] vs ${truth(t)}")
    }
    // PODS'12 guarantee for truncated terms: any untracked term's true
    // weight is bounded by total_eps (3 + 4)
    assert(truth("many") <= 7L && truth("tiny") <= 7L && truth("small") <= 7L)
    // weight 1 reduces to the count-based summaries bit-for-bit
    val w1 = graft.operators.Sketches.topkSummariesWeighted(
      df, col("p"), col("t"), lit(1L), k = 2).collect().toSet
    val plain = graft.operators.Sketches.topkSummaries(
      df, col("p"), col("t"), k = 2).collect().toSet
    assert(w1 == plain)
  }

  test("groupedWeightedQuantilesDisc: per-group weighted ranks, expanded multiset") {
    import spark.implicits._
    // per-language weight distributions with divergent spans; zero and
    // null weights must contribute nothing to any group
    val rows = (0 until 200).map(i =>
      ("en", ((i * 7919L) % 97) - 48, (i % 4 + 1).toLong)) ++
      (0 until 40).map(i => ("de", i * 1000000L, 10L)) ++
      Seq(("fr", 42L, 1L), ("fr", 41L, 0L))
    val df = rows.toDF("g", "x", "w").unionByName(
      Seq(("en", 0L, Option.empty[Long])).toDF("g", "x", "w"))
    val qs = Seq(0.25, 0.5, 0.9, 1.0)
    val got = graft.operators.Sketches.groupedWeightedQuantilesDisc(
      df, col("g"), col("x"), col("w"), qs, bins = 4)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    val byG = rows.filter(_._3 > 0).groupBy(_._1).view
      .mapValues(_.flatMap { case (_, v, w) => Seq.fill(w.toInt)(v) }.sorted)
      .toMap
    for ((g, expanded) <- byG; q <- qs) {
      val want = expanded(math.ceil(q * expanded.size).toInt.max(1) - 1)
      assert(got((g, q)) == want, s"($g, $q): got ${got((g, q))} want $want")
    }
    assert(got.size == byG.size * qs.size)
  }

  test("topkSliding: each window equals topkMerge over its day subset; bounds contain truth") {
    import spark.implicits._
    // 3 days, k=2 summaries over 4 terms per day — every day truncates,
    // and the windows straddle day boundaries (w=2: end e covers days
    // {e-1, e} ∩ observed)
    val rows = Seq(
      (1L, "a", 10L), (1L, "b", 8L), (1L, "c", 5L), (1L, "d", 1L),
      (2L, "c", 9L), (2L, "a", 7L), (2L, "b", 6L), (2L, "d", 2L),
      (3L, "d", 12L), (3L, "b", 4L), (3L, "a", 3L), (3L, "c", 2L))
    val df = rows.flatMap { case (d, t, n) => Seq.fill(n.toInt)((d, t)) }
      .toDF("day", "term")
    val sums = graft.operators.Sketches.topkSummaries(
      df, col("day"), col("term"), k = 2)
    val slid = graft.operators.Sketches.topkSliding(sums, k = 3,
      windowDays = 2)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // window ends observed: 1 (day 1), 2 (days 1-2), 3 (days 2-3)
    for (e <- 1L to 3L) {
      val days = Set(e - 1, e).filter(d => d >= 1 && d <= 3)
      val sub = sums.filter(col("period").isin(days.toSeq: _*))
      val direct = graft.operators.Sketches.topkMerge(sub, k = 3)
        .collect().map(r => (e, r.getString(0)) ->
          (r.getLong(1), r.getLong(2))).toMap
      assert(slid.view.filterKeys(_._1 == e).toMap == direct,
        s"window $e: ${slid.view.filterKeys(_._1 == e).toMap} vs $direct")
      // bounds contain the true windowed counts for surfaced terms
      val truth = rows.filter(r => days(r._1)).groupBy(_._2).view
        .mapValues(_.map(_._3).sum).toMap
      direct.foreach { case ((_, t), (lo, hi)) =>
        assert(lo <= truth(t) && truth(t) <= hi, s"window $e $t")
      }
    }
    assert(slid.keys.map(_._1).toSet == Set(1L, 2L, 3L))
    // weighted summaries flow through the same sliding merge: weight
    // inverts day 1's ranking ("d" carries 100× weight) and the window
    // bounds still come from the weighted epsilons
    val wdf = rows.map { case (d, t, n) =>
      (d, t, if (t == "d") n * 100 else n) }.toDF("day", "term", "w")
    val wsums = graft.operators.Sketches.topkSummariesWeighted(
      wdf, col("day"), col("term"), col("w"), k = 2)
    val wslid = graft.operators.Sketches.topkSliding(wsums, k = 1,
      windowDays = 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // day sums with d×100: d1 {a 10, b 8, c 5, d 100}, d2 {c 9, a 7,
    // b 6, d 200}, d3 {d 1200, b 4, a 3, c 2} — "d" tops every window
    assert(wslid == Set((1L, "d"), (2L, "d"), (3L, "d")), s"$wslid")
  }

  test("histQuantilesSliding: each window is bit-equal to histogramming its raw span") {
    import spark.implicits._
    val rows = Seq((1L, 3L), (1L, 17L), (1L, 42L), (2L, 5L), (2L, 98L),
      (2L, 55L), (3L, 61L), (3L, 7L), (3L, 99L), (3L, 0L))
    val df = rows.toDF("day", "v")
    val daily = graft.operators.Sketches.histSummaries(
      df, col("day"), col("v"), lo = 0L, width = 10L, bins = 10)
    val qs = Seq(0.5, 0.9, 1.0)
    val slid = graft.operators.Sketches.histQuantilesSliding(
        daily, qs, lo = 0L, width = 10L, windowDays = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    for (e <- 1L to 3L) {
      val days = Set(e - 1, e).filter(d => d >= 1 && d <= 3)
      val direct = graft.operators.Sketches.histQuantiles(
          graft.operators.Sketches.histSummaries(
            df.filter(col("day").isin(days.toSeq: _*)), col("day"),
            col("v"), lo = 0L, width = 10L, bins = 10),
          qs, lo = 0L, width = 10L)
        .collect().map(r => (e, r.getDouble(0)) ->
          (r.getLong(1), r.getLong(2))).toMap
      assert(slid.view.filterKeys(_._1 == e).toMap == direct, s"window $e")
      // the true q-quantile of the window's raw values sits in the bound
      val sorted = rows.filter(r => days(r._1)).map(_._2).sorted
      for (q <- qs) {
        val t = sorted(math.ceil(q * sorted.size).toInt.max(1) - 1)
        val (vlo, vhi) = direct((e, q))
        assert(vlo <= t && t < vhi, s"window $e q=$q: $t not in [$vlo,$vhi)")
      }
    }
    assert(slid.size == 3 * qs.size)
  }

  test("histSummaries/histQuantiles: merged gold bounds contain the true quantile") {
    import spark.implicits._
    // values 0..99 split across two periods: bin b holds exactly 10
    // values, so every rank boundary is known in closed form
    val vals = (0 until 100).map(v => (if (v % 2 == 0) "p1" else "p2",
      v.toDouble))
    val df = vals.toDF("p", "v")
    val sums = graft.operators.Sketches.histSummaries(
      df, col("p"), col("v"), lo = 0L, width = 10L, bins = 10)
    assert(sums.groupBy(col("period")).count().collect()
      .forall(_.getLong(1) <= 10), "summary must be ≤ bins rows per period")
    def quantiles(s: org.apache.spark.sql.DataFrame, qs: Seq[Double]) =
      graft.operators.Sketches.histQuantiles(s, qs, lo = 0L, width = 10L)
        .collect().map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    val got = quantiles(sums, Seq(0.05, 0.1, 0.5, 1.0))
    // ceil-rank picks: rank 5 → bin0; rank 10 exactly at the bin edge →
    // still bin0 (min bin with cum ≥ rank); rank 50 → bin4; rank 100 → bin9
    assert(got == Map(0.05 -> ((0L, 10L)), 0.1 -> ((0L, 10L)),
      0.5 -> ((40L, 50L)), 1.0 -> ((90L, 100L))), s"got $got")
    // the bound CONTAINS the true ceil-rank quantile value
    val sorted = vals.map(_._2).sorted
    for ((q, (vlo, vhi)) <- got) {
      val truth = sorted(math.ceil(q * sorted.size).toInt - 1)
      assert(vlo <= truth && truth < vhi, s"q=$q: [$vlo,$vhi) vs $truth")
    }
    // merging per-period summaries ≡ one global summary (shared
    // boundaries add) — the gold-table merge property
    val global = graft.operators.Sketches.histSummaries(
      df, lit("all"), col("v"), lo = 0L, width = 10L, bins = 10)
    assert(quantiles(sums, Seq(0.25, 0.75)) ==
      quantiles(global, Seq(0.25, 0.75)))
    // out-of-range values clamp to the edge bins deterministically
    val clamped = graft.operators.Sketches.histSummaries(
      df.union(Seq(("p1", -5.0), ("p2", 1000.0)).toDF("p", "v")),
      col("p"), col("v"), lo = 0L, width = 10L, bins = 10)
    // n = 102, rank ceil(.5·102) = 51; bin0 now counts 11 → cum(bin4) = 51
    assert(quantiles(clamped, Seq(0.5)) == Map(0.5 -> ((40L, 50L))))
    // grouped variant: independent totals and rank scans per group —
    // p1 holds the evens (rank 25 → 48), p2 the odds (rank 25 → 49)
    val byP = graft.operators.Sketches.histQuantilesBy(
      sums, Seq(col("period")), Seq(0.5), lo = 0L, width = 10L)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(byP == Map(("p1", 0.5) -> ((40L, 50L)),
      ("p2", 0.5) -> ((40L, 50L))), s"got $byP")
  }

  test("weighted hist summaries: rank runs over weight; weight-1 equals counts") {
    import spark.implicits._
    // one heavy row dominates the weight: unweighted p50 lands in bin 1,
    // weighted p50 follows the tokens into bin 2
    val rows = Seq((5L, 1L), (15L, 1L), (25L, 8L)).toDF("v", "w")
    def q(sums: org.apache.spark.sql.DataFrame) =
      graft.operators.Sketches.histQuantiles(sums, Seq(0.5),
        lo = 0L, width = 10L).collect()
        .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val weighted = graft.operators.Sketches.histSummariesWeightedBy(
      rows, Nil, col("v"), col("w"), lo = 0L, width = 10L, bins = 4)
    val unweighted = graft.operators.Sketches.histSummariesBy(
      rows, Nil, col("v"), lo = 0L, width = 10L, bins = 4)
    assert(q(unweighted) == Map(0.5 -> ((10L, 20L))))
    assert(q(weighted) == Map(0.5 -> ((20L, 30L))))
    // weight 1 reduces the weighted path to the plain counts, bit-equal
    val w1 = graft.operators.Sketches.histSummariesWeightedBy(
      rows, Nil, col("v"), lit(1L), lo = 0L, width = 10L, bins = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = unweighted.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w1 == plain)
    // null weight rows contribute nothing (same contract as null values)
    val withNull = Seq((5L, Some(1L)), (15L, None), (25L, Some(8L)))
      .toDF("v", "w")
    val nw = graft.operators.Sketches.histSummariesWeightedBy(
      withNull, Nil, col("v"), col("w"), lo = 0L, width = 10L, bins = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nw == Map(0L -> 1L, 2L -> 8L), s"got $nw")
  }

  test("heavyHitters equals exact GROUP BY/HAVING even under forced collisions") {
    import spark.implicits._
    val rows = Seq.fill(20)("hot1") ++ Seq.fill(7)("hot2") ++
      Seq.fill(4)("warm") ++ (1 to 40).map(i => s"cold$i")
    val df = rows.toDF("g")
    val expect = rows.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 5).toMap
    // width=4 forces every bucket to collide: candidate superset grows,
    // but the exact verification pass must still return precisely the
    // true heavy hitters with true counts
    for (w <- Seq(4, 8192)) {
      val got = Sketches.heavyHitters(df, col("g"), threshold = 5L,
        depth = 3, width = w)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expect, s"width=$w: $got")
    }
  }

  test("rendezvousShard: minimal movement — moved keys only go TO the new shard") {
    import spark.implicits._
    import graft.sources.Layout
    val ids = (0L until 1000L).toDF("id")
    val rows = ids.select(col("id"),
      Layout.rendezvousShard(col("id"), 4).as("s4"),
      Layout.rendezvousShard(col("id"), 5).as("s5"))
      .collect().map(r => (r.getInt(1), r.getInt(2)))
    assert(rows.forall { case (s4, s5) => s4 == s5 || s5 == 4 },
      "HRW violated: a key moved to an OLD shard when shard 4 was added")
    val movedRate = rows.count { case (s4, s5) => s4 != s5 } / 1000.0
    assert(movedRate > 0.1 && movedRate < 0.3, // expected 1/5 = 0.2
      s"movement rate $movedRate far from 1/(N+1)")
    // every shard gets a reasonable share (hash balance, not modulo runs)
    val byShard = rows.groupBy(_._2).view.mapValues(_.size)
    assert(byShard.size == 5 && byShard.values.forall(n => n > 100 && n < 300))
  }

  test("mergeApply: latest change wins; all four MERGE classes behave") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "v")
    val changes = Seq(
      (1L, 10L, "U", "a1"), (1L, 20L, "U", "a2"), // two updates: seq 20 wins
      (2L, 5L, "U", "b1"), (2L, 6L, "D", "-"), // update then delete: gone
      (5L, 1L, "U", "e"), // insert (key not in base)
      (6L, 1L, "D", "-")) // delete of a missing key: no-op
      .toDF("k", "seq", "op", "v")
    val got = Joins.mergeApply(base, changes, "k", "seq", "op")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a2", 3L -> "c", 4L -> "d", 5L -> "e"))
  }

  test("mergeApply: NULL op on a real change row upserts, never no-ops") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val changes = Seq(
      (1L, 10L, None: Option[String], "a9"), // null op, key present
      (3L, 10L, None: Option[String], "c9")) // null op, key absent
      .toDF("k", "seq", "op", "v")
    val got = Joins.mergeApply(base, changes, "k", "seq", "op")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the old opCol-nullity change detection silently dropped the k=1
    // update and emitted k=3 with a NULL payload (r8 ADVICE)
    assert(got == Map(1L -> "a9", 2L -> "b", 3L -> "c9"))
  }

  test("mergeApplyVersioned: stale changes are no-ops, any arrival order converges") {
    import spark.implicits._
    val base = Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "seq", "v")
    val stale = Seq((1L, 5L, "U", "OLD"), (2L, 19L, "D", "-"))
      .toDF("k", "seq", "op", "v")
    val fresh = Seq((1L, 11L, "U", "a2"), (3L, 1L, "U", "c"))
      .toDF("k", "seq", "op", "v")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet
    // stale batch: both changes lose to gold's seq — snapshot unchanged
    assert(snap(Joins.mergeApplyVersioned(base, stale, "k", "seq", "op")) ==
      Set((1L, 10L, "a"), (2L, 20L, "b")))
    // fresh-then-stale equals stale-then-fresh: order-free convergence
    val fs = Joins.mergeApplyVersioned(
      Joins.mergeApplyVersioned(base, fresh, "k", "seq", "op"),
      stale, "k", "seq", "op")
    val sf = Joins.mergeApplyVersioned(
      Joins.mergeApplyVersioned(base, stale, "k", "seq", "op"),
      fresh, "k", "seq", "op")
    val want = Set((1L, 11L, "a2"), (2L, 20L, "b"), (3L, 1L, "c"))
    assert(snap(fs) == want)
    assert(snap(sf) == want)
    // a delete that IS newest wins and drops the key
    val del = Seq((2L, 21L, "D", "-")).toDF("k", "seq", "op", "v")
    assert(snap(Joins.mergeApplyVersioned(base, del, "k", "seq", "op")) ==
      Set((1L, 10L, "a")))
  }

  test("mergeApplyVersioned tombstones: late pre-delete change cannot re-insert") {
    import spark.implicits._
    val base = Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "seq", "v")
    val del = Seq((2L, 25L, "D", "-")).toDF("k", "seq", "op", "v")
    // the exact late-arrival replay the default mode documents as its
    // gap: an upsert for k=2 with seq 22 (< the delete's 25) lands in a
    // LATER batch than the delete
    val lateOld = Seq((2L, 22L, "U", "ZOMBIE")).toDF("k", "seq", "op", "v")
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        Option(r.getString(3)))).toSet
    val afterDel = Joins.mergeApplyVersioned(base, del, "k", "seq", "op",
      keepTombstones = true)
    // key retained: tombstone flag + the delete's seq, payload nulled
    assert(snap(afterDel) ==
      Set((1L, 10L, false, Some("a")), (2L, 25L, true, None)))
    // DEFAULT mode replay of the same sequence re-inserts the zombie —
    // the documented gap this mode exists to close
    val zombied = Joins.mergeApplyVersioned(
      Joins.mergeApplyVersioned(base, del, "k", "seq", "op"),
      lateOld, "k", "seq", "op")
    assert(zombied.filter(col("k") === 2L).count() == 1L)
    // tombstone mode: the late change loses to the tombstone's seq
    val held = Joins.mergeApplyVersioned(afterDel, lateOld, "k", "seq", "op",
      keepTombstones = true)
    assert(snap(held) == snap(afterDel))
    // read side sees only live rows, and the filter is a plain predicate
    assert(Joins.liveRows(held).collect().map(_.getLong(0)).toSeq == Seq(1L))
    // a genuinely newer upsert revives the key and clears the flag
    val revive = Seq((2L, 30L, "U", "b2")).toDF("k", "seq", "op", "v")
    val revived = Joins.mergeApplyVersioned(held, revive, "k", "seq", "op",
      keepTombstones = true)
    assert(snap(revived) ==
      Set((1L, 10L, false, Some("a")), (2L, 30L, false, Some("b2"))))
  }

  test("containmentPairs: asymmetric quote detection, df cap honored") {
    import spark.implicits._
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val quote = (1 to 12).map(i => s"w$i").mkString(" ") // strict prefix
    // doc 3 shares nothing; with dfCap=1 every shingle shared by the
    // quote pair has df=2 and is dropped, so NO pairs survive
    val df = Seq((1L, long), (2L, quote), (3L, "x y z q r s t u v"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(df, col("doc_id"), col("text"),
      n = 3, dfCap = 10L, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // quote fully contained in long (10/10 rare shingles); reverse
    // direction 10/58 stays far below threshold
    assert(pairs == Set((2L, 1L)))
    assert(Dedup.containmentPairs(df, col("doc_id"), col("text"),
      n = 3, dfCap = 1L, threshold = 0.1).count() == 0)
  }

  test("scd2Build collapses runs, chains intervals, flags the current row") {
    import spark.implicits._
    def t(sec: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1700000000L + sec))
    val log = Seq(
      (1L, "a", t(0), 10L), (1L, "a", t(10), 11L), // run of a → one row
      (1L, "b", t(20), 12L),
      (1L, "a", t(30), 13L), // back to a = a NEW version, not merged
      (2L, "x", t(5), 20L)) // single-observation key
      .toDF("user_id", "state", "ts", "event_id")
    val got = Joins.scd2Build(log, "user_id", "state", "ts", "event_id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), Option(r.getTimestamp(3)), r.getInt(4),
        r.getBoolean(5))).toSet
    assert(got == Set(
      (1L, "a", t(0), Some(t(20)), 1, false),
      (1L, "b", t(20), Some(t(30)), 2, false),
      (1L, "a", t(30), None, 3, true),
      (2L, "x", t(5), None, 1, true)))
  }

  test("scd2Build: same-instant changes order by tie-break, nulls collapse") {
    import spark.implicits._
    def t(sec: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1700000000L + sec))
    // two states at the same instant: event_id fixes which one wins the
    // interval (the later id becomes the surviving current state); NULL
    // states must collapse like values (<=>), not restart every row
    val log = Seq(
      (1L, Some("a"), t(0), 1L), (1L, Some("b"), t(0), 2L),
      (2L, None: Option[String], t(0), 3L), (2L, None, t(10), 4L),
      (2L, Some("c"), t(20), 5L))
      .toDF("user_id", "state", "ts", "event_id")
    val got = Joins.scd2Build(log, "user_id", "state", "ts", "event_id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        r.getTimestamp(2), r.getInt(4), r.getBoolean(5))).toSet
    assert(got == Set(
      (1L, Some("a"), t(0), 1, false), // valid_to = same instant t(0)
      (1L, Some("b"), t(0), 2, true),
      (2L, None, t(0), 1, false), // one collapsed null run
      (2L, Some("c"), t(20), 2, true)))
  }

  test("byteCdcChunkDedup catches duplicates word tokenization cannot split") {
    import spark.implicits._
    // two no-space copies of the same ~500-char payload behind different-
    // length junk prefixes: the WORD chunker sees each as one giant token
    // (one globally-unique chunk each — zero dedup); char-level CDC
    // realigns the copies after their first shared cut in BOTH hash modes
    val payload = (1 to 40).map(i => s"seg${i}content").mkString
    val docs = Seq((1L, "Za" + payload), (2L, "Qxxb" + payload))
      .toDF("doc_id", "text")
    val word = Dedup.cdcChunkDedup(docs, col("doc_id"), col("text"),
        divisor = 8)
      .filter(col("doc_id") === 2L).collect()(0)
    assert(word.getLong(1) == word.getLong(2), // total == kept: blind
      s"word chunker unexpectedly deduped: $word")
    for (mode <- Seq("oracle", "prod")) {
      val r = Dedup.byteCdcChunkDedup(docs, col("doc_id"), col("text"),
          divisor = 64, window = 16, hashMode = mode)
        .filter(col("doc_id") === 2L).collect()(0)
      assert(r.getLong(2) * 2 <= r.getLong(1),
        s"$mode mode missed the no-space clone: $r")
      // char-mode reassembly concatenates chunks back byte-exactly: the
      // FIRST copy is untouched and must round-trip
      val d1 = Dedup.byteCdcChunkDedup(docs, col("doc_id"), col("text"),
          divisor = 64, window = 16, hashMode = mode)
        .filter(col("doc_id") === 1L).collect()(0)
      assert(d1.getString(3) == "Za" + payload, s"$mode round-trip broke")
    }
    // gear divisor must be a power of two (mask construction)
    intercept[IllegalArgumentException] {
      graft.plans.CdcGearCutsExpr(
        org.apache.spark.sql.GraftShims.expression(col("text")), 48)
    }
  }

  test("blockedFuzzyPairs drops a hot block instead of going quadratic") {
    import spark.implicits._
    // one stopword-ish block ("data …") shared by 10k names — uncapped,
    // that's ~5·10⁷ Levenshtein pairs; with the cap it must vanish while
    // the discriminative small blocks still match
    val hot = (0 until 10000).map(i => f"data set $i%05d")
    val cold = Seq("zircon alpha", "zircon alphb", "zircon zzzzzzzz",
      "quartz one", "quartz onf")
    val names = (hot ++ cold).toDF("p_name")
    val got = Joins.blockedFuzzyPairs(names, col("p_name"),
        split(col("p_name"), " ").getItem(0), maxDist = 3,
        blockCap = 1000L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // zzzzzzzz sits in the surviving zircon block but matches nothing
    assert(got == Set(
      ("quartz one", "quartz onf"),
      ("zircon alpha", "zircon alphb")))
    // and with the cap above the hot block size, hot pairs come back
    val uncapped = Joins.blockedFuzzyPairs(names, col("p_name"),
      split(col("p_name"), " ").getItem(0), maxDist = 3,
      blockCap = 100000L)
    assert(uncapped.filter(col("name_a").startsWith("data")).limit(1)
      .count() == 1L)
    // no silent caps: the audited form names the dropped block and its
    // population; empty when the cap never fires
    val (_, dropped) = Joins.blockedFuzzyPairsAudited(names, col("p_name"),
      split(col("p_name"), " ").getItem(0), maxDist = 3, blockCap = 1000L)
    val d = dropped.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(d.toSeq == Seq(("data", 10000L)), s"got ${d.toSeq}")
    val (_, none) = Joins.blockedFuzzyPairsAudited(names, col("p_name"),
      split(col("p_name"), " ").getItem(0), maxDist = 3, blockCap = 100000L)
    assert(none.isEmpty)
  }

  test("rfmSegments: parity and scale modes agree on untied data") {
    import spark.implicits._
    // 8 users (divisible by 4), all three dimensions untied: user u has u
    // events (frequency u), last event at base+u*60s (recency strictly
    // decreasing in u), per-event value u*0.5 (monetary u²*0.5). Under
    // these conditions ntile's equal-population cut and the
    // approx_percentile threshold compare must pick identical quartiles.
    val base = 1700000000L
    val events = (1 to 8).flatMap { u =>
      (0 until u).map { i =>
        (u.toLong,
          java.sql.Timestamp.from(
            java.time.Instant.ofEpochSecond(base + u * 60L - i)),
          u * 0.5)
      }
    }.toDF("user_id", "ts", "value")
    def run(mode: String) =
      MetricsKernel.rfmSegments(events, col("user_id"), col("ts"),
        col("value"), mode)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3),
          r.getDouble(4)))
        .toSet
    val parity = run("parity")
    val scale = run("scale")
    assert(parity == scale, s"parity=$parity scale=$scale")
    assert(parity.toSeq.map(_._4).sum == 8L) // every user lands somewhere
    // spot-pin one anchor: user 8 (most frequent, most recent, biggest
    // spender) is (1,1,1); users 7,8 share it → n_users 2, value 32+24.5
    assert(parity.contains((1, 1, 1, 2L, 56.5)))
  }
}
