package graft

import graft.operators.{Bpe, Joins, Sessionize}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck properties with independent Scala-side oracles (SURVEY §5:
  * "property tests: session-count invariants under event permutation,
  * family-closure idempotence"). Spark answers are compared against a
  * straightforward single-threaded reimplementation. */
class PropertySpec extends SparkSpec {
  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.{Row, types => T}

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(8)

  private def check(p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, r.status.toString)
  }

  // random parent-pointer forest: node i attaches to a parent < i, or is a root
  private val forestGen: Gen[Seq[(Long, Option[Long])]] =
    Gen.choose(2, 25).flatMap { n =>
      Gen.sequence[Seq[Option[Int]], Option[Int]]((1 until n).map { i =>
        Gen.option(Gen.choose(0, i - 1))
      }).map { parents =>
        (0L, None) +: parents.zipWithIndex.map { case (p, i) =>
          ((i + 1).toLong, p.map(_.toLong))
        }
      }
    }

  private def edgeDf(edges: Seq[(Long, Option[Long])]) =
    spark.createDataFrame(
      edges.map { case (c, p) => Row(c, p.map(Long.box).orNull) }.asJava,
      T.StructType(Seq(T.StructField("child", T.LongType),
        T.StructField("parent", T.LongType))))

  test("property: resolveRoots matches a sequential chase and is idempotent") {
    check(Prop.forAll(forestGen) { edges =>
      val parent = edges.collect { case (c, Some(p)) => c -> p }.toMap
      @annotation.tailrec
      def chase(n: Long): Long = parent.get(n) match {
        case Some(p) => chase(p)
        case None => n
      }
      val expected = edges.map(_._1).map(n => n -> chase(n)).toMap
      val got = Joins.resolveRoots(edgeDf(edges))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // idempotence: feeding (node → root) back in must be a fixpoint
      val again = Joins.resolveRoots(edgeDf(
        got.toSeq.map { case (n, r) =>
          n -> (if (n == r) None else Some(r))
        })).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == expected && again == expected
    })
  }

  test("property: closurePairs emits exactly the bounded ancestor paths") {
    check(Prop.forAll(forestGen, Gen.choose(1, 4)) { (edges, depth) =>
      val parent = edges.collect { case (c, Some(p)) => c -> p }.toMap
      def ancestors(n: Long): Seq[(Long, Long, Int)] = {
        val out = Seq.newBuilder[(Long, Long, Int)]
        var cur = parent.get(n); var d = 1
        while (cur.isDefined && d <= depth) {
          out += ((n, cur.get, d)); cur = parent.get(cur.get); d += 1
        }
        out.result()
      }
      val expected = edges.map(_._1).flatMap(ancestors).toSet
      val got = Joins.closurePairs(edgeDf(edges), depth)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      got == expected
    })
  }

  private val eventsGen: Gen[Seq[(String, Long, Long)]] =
    Gen.choose(1, 30).flatMap { n =>
      Gen.listOfN(n, for {
        key <- Gen.oneOf("u1", "u2", "u3")
        off <- Gen.choose(0L, 30000L)
      } yield (key, 1700000000L + off)).map(_.zipWithIndex.map {
        case ((k, t), i) => (k, t, i.toLong)
      })
    }

  test("property: sessionization matches a sequential fold, any input order") {
    val schema = T.StructType(Seq(
      T.StructField("user", T.StringType),
      T.StructField("ts", T.TimestampType),
      T.StructField("id", T.LongType)))
    check(Prop.forAll(eventsGen) { rows =>
      // sequential oracle: sort per key, count >gap jumps
      val expected = rows.groupBy(_._1).flatMap { case (_, rs) =>
        val sorted = rs.sortBy(r => (r._2, r._3))
        var seq = 0L; var last = Long.MinValue
        sorted.map { case (_, t, id) =>
          if (seq == 0L || t - last > 3600L) seq += 1
          last = t
          id -> seq
        }
      }
      val df = spark.createDataFrame(rows.map { case (u, s, i) =>
        Row(u, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s)), i)
      }.asJava, schema)
      val got = Sessionize.withSessionSeq(df, col("user"), col("ts"),
        col("id"), 3600L)
        .select("id", "session_seq")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == expected
    })
  }

  // random undirected pair list over a small id space (dense enough to
  // form multi-node components, sparse enough to leave several)
  private val pairsGen: Gen[Seq[(Long, Long)]] =
    Gen.choose(1, 30).flatMap { n =>
      Gen.listOfN(n, for {
        a <- Gen.choose(0L, 19L); b <- Gen.choose(0L, 19L) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    }

  test("property: orderStatistics equals sorting, any multiset and rank set") {
    import spark.implicits._
    val inputGen = for {
      vals <- Gen.nonEmptyListOf(Gen.chooseNum(-100000L, 100000L))
      ranks <- Gen.nonEmptyListOf(Gen.choose(1L, vals.size.toLong))
      bins <- Gen.oneOf(2, 3, 16)
    } yield (vals, ranks.distinct, bins)
    check(Prop.forAll(inputGen) { case (vals, ranks, bins) =>
      val sorted = vals.sorted
      val got = graft.operators.Sketches.orderStatistics(
        vals.toDF("x"), col("x"), ranks, bins = bins)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      ranks.forall(r => got(r) == sorted((r - 1).toInt))
    })
  }

  test("property: orderStatisticsWeighted equals sorting the expanded multiset") {
    import spark.implicits._
    val inputGen = for {
      rows <- Gen.nonEmptyListOf(Gen.zip(
        Gen.chooseNum(-100000L, 100000L), Gen.choose(1L, 5L)))
      tw = rows.map(_._2).sum
      ranks <- Gen.nonEmptyListOf(Gen.choose(1L, tw))
      bins <- Gen.oneOf(2, 3, 16)
    } yield (rows, ranks.distinct, bins)
    check(Prop.forAll(inputGen) { case (rows, ranks, bins) =>
      val expanded = rows.flatMap { case (v, w) =>
        Seq.fill(w.toInt)(v) }.sorted
      val got = graft.operators.Sketches.orderStatisticsWeighted(
        rows.toDF("x", "w"), col("x"), col("w"), ranks, bins = bins)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      ranks.forall(r => got(r) == expanded((r - 1).toInt))
    })
  }

  // sequential union-find oracle: every node of a pair (self-pairs
  // included) labelled with its component's minimum under `ord`
  private def unionFindLabels[T](pairs: Seq[(T, T)])(
      implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.Map[T, T]()
    def find(x: T): T = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(n => n -> find(n)).toMap
  }

  test("property: connectedComponents matches a union-find oracle") {
    check(Prop.forAll(pairsGen) { pairs =>
      pairs.isEmpty || {
        val expected = unionFindLabels(pairs)
        val df = spark.createDataFrame(
          pairs.map { case (a, b) => Row(a, b) }.asJava,
          T.StructType(Seq(T.StructField("i", T.LongType),
            T.StructField("j", T.LongType))))
        val got = graft.operators.Dedup.connectedComponents(df)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == expected
      }
    })
  }

  // the two regimes of connectedComponentsImpl: driver union-find and
  // star contraction
  private val regimes = Seq(Long.MaxValue, 0L)

  private def pairDf(pairs: Seq[(Any, Any)], t: T.DataType) =
    spark.createDataFrame(pairs.map { case (a, b) => Row(a, b) }.asJava,
      T.StructType(Seq(T.StructField("i", t), T.StructField("j", t))))

  private def labels(df: org.apache.spark.sql.DataFrame, smallGraphEdges: Long) =
    graft.operators.Dedup.connectedComponentsImpl(df, maxRounds = 16,
      smallGraphEdges = smallGraphEdges).collect().map(r => r.get(0) -> r.get(1))

  // seeded random graph over Int ids 0 until n: m random pairs, about one
  // endpoint in 20 null (a null carries no edge and names no node), plus
  // three self-pairs
  private def randomIntPairs(seed: Int, n: Int, m: Int): Seq[(Any, Any)] = {
    val rnd = new scala.util.Random(seed)
    def id(): Any = if (rnd.nextInt(20) == 0) null else Int.box(rnd.nextInt(n))
    Seq.fill(m)((id(), id())) ++
      Seq.fill(3) { val x = Int.box(rnd.nextInt(n)); (x, x) }
  }

  test("property: union-find and star contraction agree with the oracle (Int ids, self-pairs, nulls)") {
    for ((seed, n, m) <- Seq((1, 12, 8), (2, 40, 30), (3, 60, 90), (4, 25, 60))) {
      val pairs = randomIntPairs(seed, n, m)
      val expected = unionFindLabels(pairs.collect {
        case (a: Integer, b: Integer) => (a.intValue, b.intValue) })
      val df = pairDf(pairs, T.IntegerType)
      for (regime <- regimes) {
        val got = labels(df, regime)
        assert(got.length == got.toMap.size, s"seed $seed: duplicate node labels")
        assert(got.toMap == expected, s"seed $seed, smallGraphEdges $regime")
      }
    }
  }

  test("property: string ids are labelled by Spark's UTF-8 order, not UTF-16's") {
    // "Ａ" (U+FF21, UTF-8 EF BC A1) sorts below "😀" (U+1F600, UTF-8
    // F0 9F 98 80) as Spark compares strings, but ABOVE it under
    // String.compareTo, whose surrogate unit D83D is below FF21
    val utf8: Ordering[String] = Ordering.by[String, Iterable[Int]](
      _.getBytes("UTF-8").map(_ & 0xff).toSeq)(Ordering.Iterable[Int])
    // the planted component {😀, Ａ} shares no id with the random ones
    val planted = Seq[(Any, Any)](("😀", "Ａ"))
    val pool = Seq("a", "z", "中", "𝔸", "ｚ", "é", "Ａb", "😀a", "𝄞", "ｶ")
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val pairs = planted ++ Seq.fill(6)(
        (pool(rnd.nextInt(pool.size)), pool(rnd.nextInt(pool.size))))
      val typed = pairs.map { case (a, b) => (a.toString, b.toString) }
      val expected = unionFindLabels(typed)(utf8)
      // the case discriminates: a String.compareTo labelling differs
      assert(unionFindLabels(typed)(Ordering.String) != expected)
      assert(expected("😀") == "Ａ")
      for (regime <- regimes)
        assert(labels(pairDf(pairs, T.StringType), regime).toMap == expected,
          s"seed $seed, smallGraphEdges $regime")
    }
  }

  test("property: incrementalComponents equals a full recompute in both regimes") {
    import graft.operators.Dedup
    for (seed <- Seq(5, 6)) {
      val all = randomIntPairs(seed, 50, 45).collect {
        case (a: Integer, b: Integer) => (a.longValue, b.longValue) }
      val rnd = new scala.util.Random(seed)
      val (delta, old) = all.partition(_ => rnd.nextInt(4) == 0)
      val expected = unionFindLabels(all)
      for (regime <- regimes) {
        val prev = Dedup.connectedComponentsImpl(pairDf(old, T.LongType),
          maxRounds = 16, smallGraphEdges = regime)
        val got = Dedup.incrementalComponentsImpl(prev, pairDf(delta, T.LongType),
          maxRounds = 16, smallGraphEdges = regime)
          .collect().map(r => r.get(0) -> r.get(1))
        assert(got.length == got.toMap.size, s"seed $seed: duplicate node labels")
        assert(got.toMap == labels(pairDf(all, T.LongType), regime).toMap)
        assert(got.toMap == expected, s"seed $seed, smallGraphEdges $regime")
      }
    }
  }

  test("property: int8 quantization error never exceeds half a step, any vector") {
    val vecGen = Gen.choose(1, 16).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1e4f, 1e4f, 0f, Float.MinPositiveValue)))
    check(Prop.forAll(Gen.nonEmptyListOf(vecGen)) { vecs =>
      val df = spark.createDataFrame(
        vecs.zipWithIndex.map { case (v, i) =>
          Row(i.toLong, v.toArray)
        }.asJava,
        T.StructType(Seq(T.StructField("vec_id", T.LongType),
          T.StructField("embedding", T.ArrayType(T.FloatType)))))
      graft.operators.Vectors.int8Quantize(df).collect().forall { r =>
        val (scale, maxErr) = (r.getDouble(1), r.getDouble(3))
        val codes = r.getString(2).split(",").map(_.toInt)
        codes.forall(c => c >= -127 && c <= 127) &&
          maxErr <= scale / 254.0 + 1e-6
      }
    })
  }

  test("property: BPE scalable apply ≡ replay on random corpora, unseen words included") {
    // the equivalence argument rests only on the LIST's training invariant
    // (later rules reference symbols earlier rules created), not on the
    // word being tokenized — so a list learned on one random corpus must
    // tokenize a DIFFERENT random word set identically through both paths
    import spark.implicits._
    // atoms include a non-BMP code point so surrogate-pair handling is
    // exercised across random rule lists, not just the fixed fixture
    val word = Gen.choose(1, 9)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c", "😀"))
        .map(_.mkString))
    val corpus = Gen.choose(3, 10).flatMap(n => Gen.listOfN(n, word))
    check(Prop.forAll(corpus, corpus) { (train, unseen) =>
      val wf = train.groupBy(identity).toSeq
        .map { case (w, ws) => (w, ws.size.toLong) }.toDF("word", "freq")
      val merges = Bpe.learnMerges(wf, rounds = 6)
      // the driver-local trainer must emit the identical list
      val localSame = Bpe.learnMergesLocal(wf, rounds = 6) == merges
      val target = unseen.distinct.map(w => (w, 1L)).toDF("word", "freq")
      def toks(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getString(0) -> r.getString(2)).toMap
      localSame && (toks(Bpe.applyMerges(target, merges)) ==
        toks(Bpe.applyMergesScalable(target, merges)))
    })
  }

  test("learnMergesLocal refuses vocabularies over its driver-memory budget") {
    import spark.implicits._
    val wf = Seq(("aa", 1L), ("bb", 1L), ("cc", 1L), ("dd", 1L), ("ee", 1L))
      .toDF("word", "freq")
    val e = intercept[IllegalArgumentException] {
      Bpe.learnMergesLocal(wf, rounds = 4, maxDistinctWords = 3)
    }
    assert(e.getMessage.contains("distinct words"))
    // under the cap the same input trains fine
    assert(Bpe.learnMergesLocal(wf, rounds = 4, maxDistinctWords = 5).nonEmpty)
  }

  test("learnMergesLocal refuses corpora whose pair diversity blows the occ budget") {
    import spark.implicits._
    // 3 words but 6 distinct pairs — the word cap passes, the pair cap must
    // catch it (pair diversity is what multiplies the occ-index heap term)
    val wf = Seq(("abc", 5L), ("def", 3L), ("ghi", 2L)).toDF("word", "freq")
    val e = intercept[IllegalArgumentException] {
      Bpe.learnMergesLocal(wf, rounds = 4, maxDistinctPairs = 4)
    }
    assert(e.getMessage.contains("distinct pairs"))
    assert(Bpe.learnMergesLocal(wf, rounds = 4, maxDistinctPairs = 6).nonEmpty)
  }

  test("property: snapshotDiff matches a sequential map diff, any snapshots") {
    val snapGen = Gen.mapOf(Gen.zip(Gen.choose(0L, 15L),
      Gen.option(Gen.alphaStr.map(_.take(3)))))
    check(Prop.forAll(snapGen, snapGen) { (o, n) =>
      val expected = (o.keySet ++ n.keySet).map { k =>
        k -> ((o.get(k), n.get(k)) match {
          case (None, Some(_)) => "added"
          case (Some(_), None) => "removed"
          case (a, b) if a == b => "unchanged"
          case _ => "changed"
        })
      }.toMap
      def df(m: Map[Long, Option[String]]) = spark.createDataFrame(
        m.toSeq.map { case (k, v) => Row(k, v.orNull) }.asJava,
        T.StructType(Seq(T.StructField("k", T.LongType),
          T.StructField("v", T.StringType))))
      val got = Joins.snapshotDiff(df(o), df(n), "k", Seq("v"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      got == expected
    })
  }

  test("property: budgetSelect matches a sequential prefix fold, any bucket width") {
    // bucket width varies across one-score-per-bucket, boundary-straddling,
    // and everything-in-one-bucket regimes — the offsets must be exact in
    // all of them
    val caseGen = for {
      n <- Gen.choose(5, 40)
      scores <- Gen.listOfN(n, Gen.choose(0L, 30L))
      toks <- Gen.listOfN(n, Gen.choose(1L, 50L))
      width <- Gen.oneOf(1L, 4L, 16L, 64L)
    } yield (scores.zip(toks).zipWithIndex.map { case ((s, t), i) =>
      (i.toLong, s, t)
    }, width)
    check(Prop.forAll(caseGen) { case (rows, width) =>
      val total = rows.map(_._3).sum
      var cum = 0L
      val expected = rows.sortBy { case (id, s, _) => (-s, id) }
        .map { case (id, s, t) => cum += t; (id, s, t, cum) }
        .takeWhile(_._4 <= total / 2).toSet
      val df = spark.createDataFrame(
        rows.map { case (id, s, t) => Row(id, s, t) }.asJava,
        T.StructType(Seq(T.StructField("id", T.LongType),
          T.StructField("score", T.LongType), T.StructField("tok", T.LongType))))
      val got = graft.operators.Sampling.budgetSelect(df, col("id"),
          col("score"), col("tok"), 1, 2, width)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      got == expected
    })
  }

  test("property: epochShuffle matches a sequential hash-order oracle") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = java.lang.Long.parseLong(
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    val caseGen = for {
      ids <- Gen.containerOf[Set, Long](Gen.choose(0L, 500L)).suchThat(_.nonEmpty)
      shards <- Gen.choose(1, 9)
      seed <- Gen.identifier.map(_.take(6))
    } yield (ids.toSeq, shards, seed)
    check(Prop.forAll(caseGen) { case (ids, shards, seed) =>
      val keyed = ids.map(i => (i, h60(s"$i:$seed")))
      val expected = keyed.groupBy(_._2 % shards).flatMap { case (sh, g) =>
        g.sortBy { case (id, k) => (k, id) }.zipWithIndex.map {
          case ((id, k), p) => id -> (k, sh, p + 1)
        }
      }
      val df = spark.createDataFrame(
        ids.map(Row(_)).asJava,
        T.StructType(Seq(T.StructField("id", T.LongType))))
      val got = graft.operators.Sampling.epochShuffle(df, col("id"), seed, shards)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
      got == expected
    })
  }

  test("property: scd2Build matches a sequential fold, any arrival order") {
    // random per-key change logs with ts collisions and null states; the
    // oracle folds each key's (ts, tieBreak)-sorted log sequentially —
    // row-shuffling the input must never change the output
    val logGen = Gen.listOf(for {
      k <- Gen.choose(0L, 3L)
      ts <- Gen.choose(0L, 6L)
      st <- Gen.option(Gen.oneOf("a", "b", "c"))
    } yield (k, ts, st)).map(_.zipWithIndex
      .map { case ((k, ts, st), i) => (k, ts, i.toLong, st) })
    check(Prop.forAll(logGen) { rows0 =>
      val rows = scala.util.Random.shuffle(rows0)
      val expected = rows0.groupBy(_._1).flatMap { case (k, rs) =>
        val ordered = rs.sortBy(r => (r._2, r._3))
        val collapsed = ordered.foldLeft(
          List.empty[(Long, Long, Option[String])]) { case (acc, r) =>
          if (acc.nonEmpty && acc.head._3 == r._4) acc
          else (r._2, r._3, r._4) :: acc
        }.reverse
        collapsed.zipWithIndex.map { case ((ts, _, st), i) =>
          (k, st, ts, i + 1) ->
            (if (i == collapsed.size - 1) None else Some(collapsed(i + 1)._1))
        }
      }
      val df = spark.createDataFrame(
        rows.map { case (k, ts, id, st) => Row(k,
          new java.sql.Timestamp(ts * 1000), id, st.orNull) }.asJava,
        T.StructType(Seq(T.StructField("k", T.LongType),
          T.StructField("ts", T.TimestampType),
          T.StructField("id", T.LongType),
          T.StructField("st", T.StringType))))
      val got = Joins.scd2Build(df, "k", "st", "ts", "id")
        .collect().map(r => (r.getLong(0), Option(r.getString(1)),
          r.getTimestamp(2).getTime / 1000, r.getInt(4)) ->
          Option(r.getTimestamp(3)).map(_.getTime / 1000)).toMap
      got == expected
    })
  }

  test("property: mergeApply matches a sequential map fold and is idempotent") {
    val baseGen = Gen.mapOf(Gen.zip(Gen.choose(0L, 9L),
      Gen.alphaStr.map(_.take(2))))
    val changeGen = Gen.listOf(for {
      k <- Gen.choose(0L, 12L)
      op <- Gen.frequency(3 -> Gen.const("U"), 1 -> Gen.const("D"))
      v <- Gen.alphaStr.map(_.take(2))
    } yield (k, op, v)).map(_.zipWithIndex
      .map { case ((k, op, v), i) => (k, i.toLong, op, v) })
    check(Prop.forAll(baseGen, changeGen) { (base, changes) =>
      // latest change per key wins; D removes, U upserts
      val expected = changes.groupBy(_._1).foldLeft(base) {
        case (acc, (k, rs)) =>
          val last = rs.maxBy(_._2)
          if (last._3 == "D") acc - k else acc.updated(k, last._4)
      }
      def baseDf(m: Map[Long, String]) = spark.createDataFrame(
        m.toSeq.map { case (k, v) => Row(k, v) }.asJava,
        T.StructType(Seq(T.StructField("k", T.LongType),
          T.StructField("v", T.StringType))))
      val chDf = spark.createDataFrame(
        changes.map { case (k, seq, op, v) => Row(k, seq, op, v) }.asJava,
        T.StructType(Seq(T.StructField("k", T.LongType),
          T.StructField("seq", T.LongType),
          T.StructField("op", T.StringType),
          T.StructField("v", T.StringType))))
      val merged = Joins.mergeApply(baseDf(base), chDf, "k", "seq", "op")
      val got = merged.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // replaying the SAME batch onto the merged snapshot is a no-op
      // (CDC redelivery safety) — deletes of absent keys stay absent,
      // upserts rewrite the value they already wrote
      val replayed = Joins.mergeApply(merged, chDf, "k", "seq", "op")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      got == expected && replayed == expected
    })
  }

  test("property: tombstoned versioned merge is confluent under any batch order") {
    // the guarantee the r10 tombstone mode exists for: fold the change
    // set in ANY partition into batches, in ANY batch order, and the
    // snapshot equals the single-batch apply — per key the surviving row
    // is the max-seq record, and max is associative/commutative, but
    // ONLY because deletes persist as tombstone rows (default mode drops
    // the key, so a late pre-delete change would resurrect it)
    val caseGen = for {
      base <- Gen.mapOf(Gen.zip(Gen.choose(0L, 9L),
        Gen.alphaStr.map(_.take(2))))
      nCh <- Gen.choose(1, 14)
      ops <- Gen.listOfN(nCh, Gen.zip(Gen.choose(0L, 12L),
        Gen.frequency(3 -> Gen.const("U"), 2 -> Gen.const("D")),
        Gen.alphaStr.map(_.take(2))))
      // unique seqs STRICTLY ABOVE every base seq (base rows carry seq 0)
      changes = ops.zipWithIndex.map { case ((k, op, v), i) =>
        (k, i.toLong + 1L, op, v) }
      nBatches <- Gen.choose(1, 4)
      assign <- Gen.listOfN(changes.size, Gen.choose(0, nBatches - 1))
      order <- Gen.const(new scala.util.Random(changes.size * 31 + nBatches)
        .shuffle((0 until nBatches).toList))
    } yield (base, changes, changes.zip(assign), order)
    check(Prop.forAll(caseGen) { case (base, changes, assigned, order) =>
      def baseDf(m: Map[Long, String]) = spark.createDataFrame(
        m.toSeq.map { case (k, v) => Row(k, 0L, v) }.asJava,
        T.StructType(Seq(T.StructField("k", T.LongType),
          T.StructField("seq", T.LongType),
          T.StructField("v", T.StringType))))
      def chDf(ch: Seq[(Long, Long, String, String)]) =
        spark.createDataFrame(
          ch.map { case (k, seq, op, v) => Row(k, seq, op, v) }.asJava,
          T.StructType(Seq(T.StructField("k", T.LongType),
            T.StructField("seq", T.LongType),
            T.StructField("op", T.StringType),
            T.StructField("v", T.StringType))))
      def snap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getBoolean(2), Option(r.getString(3)))).toMap
      val oneShot = Joins.mergeApplyVersioned(baseDf(base), chDf(changes),
        "k", "seq", "op", keepTombstones = true)
      val folded = order.foldLeft(
        Joins.mergeApplyVersioned(baseDf(base),
          chDf(Seq.empty), "k", "seq", "op", keepTombstones = true)) {
        (acc, b) =>
          val batch = assigned.filter(_._2 == b).map(_._1)
          if (batch.isEmpty) acc
          else Joins.mergeApplyVersioned(acc, chDf(batch),
            "k", "seq", "op", keepTombstones = true)
      }
      // sequential oracle: per key the max-seq record decides
      val expected = {
        val byKey = changes.groupBy(_._1)
        val keys = base.keySet ++ byKey.keySet
        keys.toSeq.map { k =>
          val last = byKey.getOrElse(k, Nil).sortBy(_._2).lastOption
          last match {
            case Some((_, seq, "D", _)) => k -> ((seq, true, None))
            case Some((_, seq, _, v))   => k -> ((seq, false, Some(v)))
            case None => k -> ((0L, false, Some(base(k))))
          }
        }.toMap
      }
      val liveKeys = Joins.liveRows(folded).collect().map(_.getLong(0)).toSet
      snap(oneShot) == expected && snap(folded) == expected &&
        liveKeys == expected.filterNot(_._2._2).keySet
    })
  }

  test("property: kmv sketch equals the k smallest distinct values, any partitioning") {
    import spark.implicits._
    val caseGen = for {
      k <- Gen.choose(2, 20)
      // raw longs incl. negatives and duplicates: the sketch's set
      // semantics are domain-agnostic (estimators need hash60's domain,
      // the sketch itself does not)
      vs <- Gen.listOf(Gen.choose(-50L, 50L))
      parts <- Gen.choose(1, 7)
    } yield (k, vs, parts)
    check(Prop.forAll(caseGen) { case (k, vs, parts) =>
      vs.isEmpty || {
        val got = vs.toDF("h").repartition(parts)
          .agg(graft.operators.Sketches.kmvSketch(col("h"), k).as("sk"))
          .select(col("sk")).as[Seq[Long]].head()
        got == vs.distinct.sorted.take(k)
      }
    })
  }

  test("property: holtSmooth equals a sequential Scala fold, any series") {
    import spark.implicits._
    val seriesGen: Gen[(Seq[Long], Long, Long)] = for {
      n  <- Gen.choose(1, 20)
      vs <- Gen.listOfN(n, Gen.choose(-500L, 500L))
      a  <- Gen.choose(0L, 1000L)
      b  <- Gen.choose(0L, 1000L)
    } yield (vs, a, b)
    check(Prop.forAll(seriesGen) { case (vs, a, b) =>
      val rows = vs.zipWithIndex.map { case (v, i) => ("g", f"p$i%03d", v) }
      val got = graft.operators.Sketches.holtSmooth(
          rows.toDF("g", "p", "v"), col("g"), col("p"), col("v"),
          alphaMilli = a, betaMilli = b)
        .orderBy("p").collect()
        .map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
      // reference fold: plain Scala longs; / truncates toward zero like
      // Spark's div — negative trend steps exercise exactly that
      val ref = vs.tail.scanLeft((vs.head, vs.head, 0L)) {
        case ((_, l0, b0), v) =>
          val lt = (a * v + (1000 - a) * (l0 + b0)) / 1000
          val bt = (b * (lt - l0) + (1000 - b) * b0) / 1000
          (v, lt, bt)
      }
      got.toSeq == ref.toSeq
    })
  }

  test("property: winnowing guarantee holds for any shared window") {
    // any two strings sharing a contiguous span of >= w + k - 1 chars
    // must share at least one selected fingerprint (SIGMOD'03 Thm 1)
    import spark.implicits._
    val g: Gen[(String, String, String)] = for {
      shared <- Gen.listOfN(11, Gen.alphaLowerChar).map(_.mkString)
      pre1   <- Gen.listOfN(7, Gen.alphaNumChar).map(_.mkString)
      suf1   <- Gen.listOfN(5, Gen.alphaNumChar).map(_.mkString)
      pre2   <- Gen.listOfN(3, Gen.alphaNumChar).map(_.mkString)
    } yield (pre1 + shared + suf1, pre2 + shared, shared)
    check(Prop.forAll(g) { case (d1, d2, _) =>
      // SIGMOD'03 Thm 1 is hash-family independent: it must hold under
      // the md5 oracle family AND the xxhash64 prod family alike
      Seq("oracle", "prod").forall { mode =>
        val fps = graft.operators.Dedup.winnowFingerprints(
            Seq((1L, d1), (2L, d2)).toDF("doc_id", "text"),
            col("doc_id"), col("text"), k = 8, w = 4, hashMode = mode)
          .collect().map(r => r.getLong(0) -> r.getLong(1))
        val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        (byDoc(1L) intersect byDoc(2L)).nonEmpty
      }
    })
  }

  test("property: native winnowing is bit-identical to the lambda form") {
    // the r12 codegen port must not move a single fingerprint: same
    // hashes (md5 60-bit), same window minima, same first-occurrence
    // distinct order, same short-text clamps — including code-point
    // (not byte) shingle boundaries on multibyte text
    import spark.implicits._
    val charGen = Gen.frequency(
      (8, Gen.alphaNumChar), (1, Gen.const('é')), (1, Gen.const('本')))
    val g: Gen[String] = for {
      n  <- Gen.choose(0, 40)
      cs <- Gen.listOfN(n, charGen)
    } yield cs.mkString
    check(Prop.forAll(g, g, Gen.choose(2, 9), Gen.choose(2, 6)) {
      (d1, d2, k, w) =>
        val df = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
        def run(f: (org.apache.spark.sql.DataFrame,
            org.apache.spark.sql.Column, org.apache.spark.sql.Column,
            Int, Int) => org.apache.spark.sql.DataFrame) =
          f(df, col("doc_id"), col("text"), k, w)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        run(graft.operators.Dedup.winnowFingerprints(_, _, _, _, _)) ==
          run(graft.operators.Dedup.winnowFingerprintsLambda)
    })
  }

  test("property: winnowCandidatePairs matches an independent fingerprint replay") {
    // full-pipeline replay in plain Scala: per-doc k-gram md5-60 hashes,
    // window minima with first-occurrence distinct, popularity cap,
    // pairwise shared counts — the operator (native expr + repartition +
    // self-join + agg) must reproduce it for arbitrary corpora/k/w/cap
    import spark.implicits._
    def h60(s: String): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      var v = 0L
      (0 until 8).foreach(i => v = (v << 8) | (dig(i) & 0xffL))
      v >>> 4
    }
    def fps(text: String, k: Int, w: Int): Set[Long] = {
      val n = text.length
      val m = math.max(n - (k - 1), 1)
      val hs = (0 until m).map(i =>
        h60(text.substring(i, math.min(i + k, n))))
      val nWin = math.max(m - (w - 1), 1)
      (0 until nWin).map(j => hs.slice(j, math.min(j + w, m)).min).toSet
    }
    val docGen: Gen[String] = for {
      n  <- Gen.choose(0, 30)
      cs <- Gen.listOfN(n, Gen.oneOf('x', 'y', 'z'))
    } yield cs.mkString
    val corpusGen: Gen[List[String]] =
      Gen.choose(2, 6).flatMap(k => Gen.listOfN(k, docGen))
    check(Prop.forAll(corpusGen, Gen.choose(2, 6), Gen.choose(2, 4),
        Gen.choose(2L, 4L)) { (texts, k, w, cap) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val byDoc = docs.map { case (id, t) => id -> fps(t, k, w) }.toMap
      val pop = byDoc.values.toSeq.flatten.groupBy(identity)
        .view.mapValues(_.size).toMap
      val kept = byDoc.view.mapValues(_.filter(pop(_) <= cap)).toMap
      val expected = (for {
        (i, fi) <- kept.toSeq; (j, fj) <- kept.toSeq if i < j
        shared = (fi intersect fj).size if shared >= 1
      } yield (i, j) -> shared.toLong).toMap
      val got = graft.operators.Dedup.winnowCandidatePairs(
          docs.toDF("doc_id", "text"), col("doc_id"), col("text"),
          k, w, maxDocsPerFp = cap, minShared = 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      got == expected
    })
  }

  test("property: dupSpanTrim removes exactly the corpus-duplicated coverage") {
    // independent in-memory replay over tiny-vocab corpora (heavy
    // natural duplication -> overlap merges, adjacent chains, full-doc
    // coverage all arise): the operator's merged-interval scan must
    // remove EXACTLY the tokens covered by some >= 2x g-gram, rebuild
    // the survivors in order, and report n_removed = |covered|
    import spark.implicits._
    val docGen: Gen[Seq[String]] = for {
      n  <- Gen.choose(0, 15)
      ts <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
    } yield ts
    val corpusGen: Gen[List[Seq[String]]] =
      Gen.choose(2, 5).flatMap(k => Gen.listOfN(k, docGen))
    check(Prop.forAll(corpusGen, Gen.choose(2, 4)) { (docsToks, g) =>
      val docs = docsToks.zipWithIndex.map { case (ts, i) =>
        (i.toLong + 1L, ts.mkString(" "))
      }
      // replay: Spark's split(text, ' ') == Java split with -1 limit
      val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }
      val gramCounts = toks.flatMap { case (_, w) =>
        (0 to w.length - g).map(i => w.slice(i, i + g).mkString(" "))
      }.groupBy(identity).view.mapValues(_.size).toMap
      val expected = toks.map { case (id, w) =>
        val covered = (0 to w.length - g)
          .filter(i => gramCounts(w.slice(i, i + g).mkString(" ")) >= 2)
          .flatMap(i => i until i + g).toSet
        val kept = w.zipWithIndex.collect {
          case (t, i) if !covered.contains(i) => t
        }
        id -> ((w.length.toLong, covered.size.toLong, kept.mkString(" ")))
      }.toMap
      val got = graft.operators.Dedup.dupSpanTrim(
          docs.toDF("doc_id", "text"), col("doc_id"), col("text"), g)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      got == expected
    })
  }

  test("property: suffix-rank trims match an independent window replay") {
    // both removal semantics over tiny-vocab corpora (natural heavy
    // duplication): remove-all must trim exactly the union of >= 2x
    // window coverage; keep-first must leave exactly each class's
    // minimum-(doc_id, pos) occurrence unmarked — the in-memory replay
    // shares nothing with the prefix-doubling rank machinery, so a
    // rank-class bug, a short-suffix pad slip, or a winner-filter slip
    // all surface as a row mismatch
    import spark.implicits._
    val docGen: Gen[Seq[String]] = for {
      n  <- Gen.choose(0, 15)
      ts <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
    } yield ts
    val corpusGen: Gen[List[Seq[String]]] =
      Gen.choose(2, 5).flatMap(k => Gen.listOfN(k, docGen))
    check(Prop.forAll(corpusGen, Gen.oneOf(2, 3, 4, 6)) { (docsToks, len) =>
      val docs = docsToks.zipWithIndex.map { case (ts, i) =>
        (i.toLong + 1L, ts.mkString(" "))
      }
      val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }
      val occ = toks.flatMap { case (id, w) =>
        (0 to w.length - len).map(p =>
          (w.slice(p, p + len).mkString(" "), id, p))
      }
      val classes = occ.groupBy(_._1).filter(_._2.size >= 2).values
      def expectedOf(marked: Set[(Long, Int)]) = toks.map { case (id, w) =>
        val covered = marked.collect { case (d, p) if d == id =>
          p until p + len }.flatten.toSet
        val kept = w.zipWithIndex.collect {
          case (t, i) if !covered.contains(i) => t }
        id -> ((w.length.toLong, covered.size.toLong, kept.mkString(" ")))
      }.toMap
      val allMarked = classes.flatten.map(o => (o._2, o._3)).toSet
      val kfMarked = classes.flatMap { os =>
        os.map(o => (o._2, o._3)).toSeq.sorted.drop(1)
      }.toSet
      def run(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      val src = docs.toDF("doc_id", "text")
      run(graft.operators.Dedup.exactSubstrTrim(
          src, col("doc_id"), col("text"), len)) == expectedOf(allMarked) &&
        run(graft.operators.Dedup.exactSubstrTrimKeepFirst(
          src, col("doc_id"), col("text"), len)) == expectedOf(kfMarked)
    })
  }

  test("property: native md5-window CDC cuts are bit-identical to the lambda form") {
    // the r12 byte-range kernel must reproduce the composed SQL rule —
    // the form every d_byte_* DuckDB oracle replays — position-exact,
    // including multibyte char boundaries, len<window, and len==window
    import spark.implicits._
    val charGen = Gen.frequency(
      (8, Gen.alphaNumChar), (1, Gen.const('é')), (1, Gen.const('本')))
    val g: Gen[String] = for {
      n  <- Gen.choose(0, 60)
      cs <- Gen.listOfN(n, charGen)
    } yield cs.mkString
    check(Prop.forAll(g, Gen.choose(2, 20), Gen.oneOf(2, 3, 8, 64)) {
      (text, window, divisor) =>
        val df = Seq(Tuple1(text)).toDF("t")
        val native = df.select(org.apache.spark.sql.GraftShims.column(
            graft.plans.CdcMd5CutsExpr(
              org.apache.spark.sql.GraftShims.expression(col("t")),
              window, divisor)).as("c"))
          .collect()(0).getSeq[Int](0)
        val lambda = df.select(expr(
            s"""CASE WHEN length(t) >= $window
               |THEN filter(sequence($window, length(t)), i ->
               |  pmod(cast(conv(substring(md5(substring(t, i - ${window - 1},
               |    $window)), 1, 15), 16, 10) AS BIGINT),
               |    ${divisor}L) = 0L)
               |ELSE cast(array() AS array<int>) END""".stripMargin).as("c"))
          .collect()(0).getSeq[Int](0)
        native == lambda
    })
  }

  test("property: hitsScores matches a sequential integer replay") {
    val graphGen: Gen[Seq[(Long, Long)]] = for {
      n     <- Gen.choose(3, 12)
      m     <- Gen.choose(2, 24)
      edges <- Gen.listOfN(m, for {
        s <- Gen.choose(0L, n - 1L); d <- Gen.choose(0L, n - 1L)
      } yield (s, d))
    } yield edges.filter { case (s, d) => s != d }
    check(Prop.forAll(graphGen, Gen.choose(1, 3)) { (edges, rounds) =>
      edges.isEmpty || {
        import spark.implicits._
        val got = graft.operators.Joins.hitsScores(
            edges.toDF("src", "dst"), rounds = rounds)
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
          .toMap
        // plain-Scala replay in BigInt (the decimal(38,0) renorm exactly)
        val e = edges.distinct
        var h = e.map(_._1).distinct.map(_ -> BigInt(1000000)).toMap
        var aFin = Map.empty[Long, BigInt]
        for (_ <- 1 to rounds) {
          val ar = e.groupBy(_._2).view.mapValues(
            _.map(x => h.getOrElse(x._1, BigInt(0))).sum).toMap
          val am = ar.values.max
          aFin = ar.view.mapValues(v => v * 1000000 / am).toMap
          val hr = e.groupBy(_._1).view.mapValues(
            _.map(x => aFin.getOrElse(x._2, BigInt(0))).sum).toMap
          val hm = hr.values.max
          h = hr.view.mapValues(v => v * 1000000 / hm).toMap
        }
        val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
        nodes.forall { nd =>
          got(nd) == ((aFin.getOrElse(nd, BigInt(0)).toLong,
            h.getOrElse(nd, BigInt(0)).toLong))
        }
      }
    })
  }
}
