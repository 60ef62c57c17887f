package graft

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** ScalaCheck properties (SURVEY §5.4): algebraic invariants checked
  * against randomly generated inputs — things the fixed-fixture oracle
  * can't explore. Spark-driving properties use few, larger cases. */
object GraftProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  lazy val spark: SparkSession = Sessions.local()

  // ---- pure-model vs engine: set algebra ----------------------------

  private val keySets = Gen.zip(
    Gen.listOf(Gen.choose(0, 30)), Gen.listOf(Gen.choose(0, 30)))

  property("union/intersect/except match Scala set algebra") =
    forAll(keySets) { case (xs, ys) =>
      import spark.implicits._
      val a = xs.toDF("k"); val b = ys.toDF("k")
      val u = a.union(b).distinct().collect().map(_.getInt(0)).toSet
      val i = a.intersect(b).collect().map(_.getInt(0)).toSet
      val e = a.except(b).collect().map(_.getInt(0)).toSet
      u == (xs.toSet | ys.toSet) && i == (xs.toSet & ys.toSet) &&
        e == (xs.toSet -- ys.toSet)
    }

  // ---- native expressions vs reference implementations --------------

  private val floatVecs = for {
    n <- Gen.choose(1, 64)
    a <- Gen.listOfN(n, Gen.choose(-100f, 100f))
    b <- Gen.listOfN(n, Gen.choose(-100f, 100f))
  } yield (a, b)

  property("fvec_dot matches sequential double-widened reference") =
    forAll(floatVecs) { case (a, b) =>
      import spark.implicits._
      val got = Seq((a, b)).toDF("a", "b")
        .selectExpr("fvec_dot(a, b) AS d").collect().head.getDouble(0)
      val want = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
        acc + x.toDouble * y.toDouble }
      got == want
    }

  private val hashArrays =
    Gen.nonEmptyListOf(Gen.choose(0L, (1L << 60) - 1))

  property("simhash60 matches the reference bit-balance fold") =
    forAll(hashArrays) { hs =>
      import spark.implicits._
      val got = Seq(Tuple1(hs)).toDF("hs")
        .selectExpr("simhash60(hs) AS s").collect().head.getLong(0)
      val bal = new Array[Int](60)
      hs.foreach { h =>
        (0 until 60).foreach { b =>
          bal(b) += (if (((h >> b) & 1L) == 1L) 1 else -1) }
      }
      val want = (0 until 60).foldLeft(0L) { (acc, b) =>
        if (bal(b) >= 0) acc | (1L << b) else acc }
      got == want
    }

  // ---- operator invariants ------------------------------------------

  private val eventsGen = Gen.nonEmptyListOf(Gen.zip(
    Gen.choose(0L, 5L), Gen.oneOf("a", "b", "c"), Gen.choose(0L, 1000L)))

  property("dedup by (user,type) is idempotent and keeps min id") =
    forAll(eventsGen) { rows =>
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val df = rows.zipWithIndex
        .map { case ((u, t, v), i) => (i.toLong, u, t, v.toDouble) }
        .toDF("event_id", "user_id", "event_type", "value")
      val once = df.groupBy("user_id", "event_type")
        .agg(min("event_id").as("event_id"), count(lit(1)).as("n"))
      val keys = once.select("user_id", "event_type").collect().toSeq
      // one row per key, and each kept id is the true minimum
      val model = rows.zipWithIndex
        .groupBy { case ((u, t, _), _) => (u, t) }
        .map { case (k, g) => k -> g.map(_._2.toLong).min }
      keys.size == model.size &&
        once.collect().forall(r =>
          model((r.getLong(0), r.getString(1))) == r.getLong(2))
    }

  property("topk_vals equals sort-desc-take-k of the group") =
    forAll(Gen.nonEmptyListOf(Gen.choose(-1000.0, 1000.0))) { xs =>
      import spark.implicits._
      val got = xs.map(Tuple1(_)).toDF("v")
        .repartition(4) // force partial buffers + merge across partitions
        .agg(org.apache.spark.sql.functions.expr("topk_vals(v, 5)"))
        .collect().head.getSeq[Double](0)
      got == xs.sorted(Ordering[Double].reverse).take(5)
    }

  private val edgeLists = for {
    n <- Gen.choose(2, 20)
    m <- Gen.choose(1, 25)
    edges <- Gen.listOfN(m,
      Gen.zip(Gen.choose(0L, n.toLong - 1), Gen.choose(0L, n.toLong - 1)))
  } yield edges.filter { case (a, b) => a != b }

  property("connectedComponents matches a driver union-find") =
    forAll(edgeLists) { edges =>
      edges.isEmpty || {
        import spark.implicits._
        val got = graft.operators.LlmOps
          .connectedComponents(edges.toDF("a", "b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
          .map(x => x -> find(x)).toMap
        got == want
      }
    }

  // Zipf-ish token streams: few hot tokens + a long tail, shuffled —
  // the regime Misra-Gries is built for. Spark repartitions the input,
  // so the sketch exercises update AND merge paths.
  // The permutation is derived from Gen (zip with generated ranks +
  // sortBy), not scala.util.Random — so a failing property replays
  // exactly from the reported ScalaCheck seed.
  private val tokenStreams = for {
    nHot <- Gen.choose(1, 5)
    hotReps <- Gen.choose(50, 200)
    tail <- Gen.listOfN(300, Gen.choose(0, 500))
    base = (0 until nHot).flatMap(h => List.fill(hotReps)(s"hot$h")).toList ++
      tail.map(t => s"t$t")
    ranks <- Gen.listOfN(base.length, Gen.choose(Long.MinValue, Long.MaxValue))
  } yield base.lazyZip(ranks).map((t, r) => (t, r)).sortBy(x => (x._2, x._1))
    .map(_._1)

  property("freq_sketch honors the Misra-Gries membership and error bounds") =
    forAll(tokenStreams) { toks =>
      import spark.implicits._
      val k = 16
      val n = toks.length
      val est = toks.toDF("tok").repartition(4)
        .selectExpr(s"freq_sketch(tok, $k) AS mg")
        .selectExpr("explode(mg) AS (tok, est)")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      est.size <= k &&
        exact.forall { case (t, c) =>
          // membership: freq > n/(k+1) must be reported
          (c * (k + 1) <= n || est.contains(t)) &&
            // error: never overcount, undercount ≤ n/(k+1)
            est.get(t).forall(e => e <= c && (c - e) * (k + 1) <= n)
        }
    }

  // strings over a pool that includes combining marks (U+0301, U+030A)
  // and precomposed forms — the NFC-interesting regime
  private val unicodeStrings = Gen.listOf(Gen.oneOf(
    'a', 'e', 'A', 'o', '́', '̊', 'é', 'Å', ' ', 'z'))
    .map(_.mkString)

  property("nfc_normalize matches the JDK reference and is idempotent") =
    forAll(unicodeStrings) { s =>
      import spark.implicits._
      val got = Seq(s).toDF("s")
        .selectExpr("nfc_normalize(s) AS n", "nfc_normalize(nfc_normalize(s)) AS nn")
        .collect().head
      val want = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
      got.getString(0) == want && got.getString(1) == want
    }

  property("rollup leaf sums equal grand total") =
    forAll(eventsGen) { rows =>
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val df = rows.map { case (u, t, v) => (u, t, v.toDouble) }
        .toDF("u", "t", "v")
      val r = df.rollup("u", "t")
        .agg(sum("v").as("s"), grouping("u").cast("int").as("gu"),
          grouping("t").cast("int").as("gt")).collect()
      val leaves = r.filter(x => x.getInt(3) == 0 && x.getInt(4) == 0)
        .map(_.getDouble(2)).sum
      val total = r.filter(x => x.getInt(3) == 1 && x.getInt(4) == 1)
        .map(_.getDouble(2)).head
      math.abs(leaves - total) < 1e-6 * math.max(1.0, math.abs(total))
    }

  // ---- prefix-filter completeness lemma (q_llm_prefix_join) ---------
  // Pure model, no Spark: for ANY total element order, if J(A,B) ≥ 3/5
  // then the (|S| − ⌈3|S|/5⌉ + 1)-element prefixes of A and B (in that
  // order) intersect, and the PPJoin length filter 5·min ≥ 3·max holds.
  // This is the property that makes the candidate join lossless — the
  // BatchSpec recall test checks it on the corpus; this checks it on
  // adversarial random sets.
  private val intSetPair = for {
    xs <- Gen.nonEmptyListOf(Gen.choose(0, 50))
    ys <- Gen.nonEmptyListOf(Gen.choose(0, 50))
  } yield (xs.toSet, ys.toSet)

  // ---- q_ts_ewma's fold vs a plain Scala reference ------------------
  // the SQL form (aggregate with element-1 seed over slice(2..)) must
  // equal foldLeft((acc + x) div 2) for ANY BIGINT sequence, including
  // negatives (Spark's div and Scala's / both truncate toward zero)
  private val centiSeqs =
    Gen.nonEmptyListOf(Gen.choose(-1000000L, 1000000L))

  property("ewma SQL fold equals the Scala reference fold") =
    forAll(centiSeqs) { xs =>
      import spark.implicits._
      val got = Seq(xs).toDF("vals")
        .selectExpr(
          """aggregate(slice(vals, 2, size(vals) - 1),
            element_at(vals, 1), (acc, x) -> (acc + x) div 2) AS e""")
        .first().getLong(0)
      val want = xs.tail.foldLeft(xs.head)((acc, x) => {
        val s = acc + x
        // BIGINT div truncates toward zero, matching Scala Long division
        s / 2
      })
      got == want
    }

  // ---- q_graph_coproj's pair counts vs brute force ------------------
  private val bipartiteEdges = for {
    n <- Gen.choose(1, 25)
    es <- Gen.listOfN(n,
      Gen.zip(Gen.choose(0L, 6L), Gen.choose(100L, 106L)))
  } yield es.distinct

  property("co-occurrence projection equals brute-force pair counting") =
    forAll(bipartiteEdges) { es =>
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val e = es.toDF("p", "s")
      val got = e.as("a")
        .join(e.as("b"), col("a.p") === col("b.p") &&
          col("a.s") < col("b.s"))
        .groupBy(col("a.s").as("s1"), col("b.s").as("s2"))
        .agg(count(lit(1)).as("shared"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = es.groupBy(_._1).values.flatMap { grp =>
        val ss = grp.map(_._2).distinct.sorted
        for (i <- ss.indices; j <- i + 1 until ss.length)
          yield (ss(i), ss(j))
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      got == want
    }

  property("prefix filter is lossless at tau=3/5 for any set pair") =
    forAll(intSetPair) { case (a, b) =>
      val inter = (a & b).size
      val uni = (a | b).size
      val similar = inter * 5 >= uni * 3
      def prefix(s: Set[Int]): Set[Int] = {
        val sz = s.size
        val plen = sz - (3 * sz + 4) / 5 + 1
        s.toList.sorted.take(plen).toSet
      }
      val lengthOk = 5 * math.min(a.size, b.size) >= 3 * math.max(a.size, b.size)
      val prefixesMeet = (prefix(a) & prefix(b)).nonEmpty
      // lemma: similarity implies both candidate conditions
      !similar || (lengthOk && prefixesMeet)
    }

  // ---- banded Hamming buckets (q_mm_image_neardup / q_llm_simhash) --

  private val hashAndFlips = for {
    hi <- Gen.choose(0L, (1L << 32) - 1)
    lo <- Gen.choose(0L, (1L << 32) - 1)
    nFlips <- Gen.choose(0, 3)
    flips <- Gen.listOfN(nFlips, Gen.choose(0, 63))
  } yield (hi, lo, flips)

  /** The exact chunk expression both engines evaluate: 4×16-bit bands
    * of the two-halves 64-bit hash. */
  private def chunks(hi: Long, lo: Long): Seq[Long] =
    Seq(lo & 65535L, (lo >> 16) & 65535L, hi & 65535L, (hi >> 16) & 65535L)

  property("4x16 banding is pigeonhole-complete for Hamming <= 3 and " +
      "chunks reassemble the hash") =
    forAll(hashAndFlips) { case (hi, lo, flips) =>
      var h2 = hi; var l2 = lo
      flips.foreach { b =>
        if (b < 32) l2 ^= 1L << b else h2 ^= 1L << (b - 32)
      }
      val ham = java.lang.Long.bitCount(hi ^ h2) +
        java.lang.Long.bitCount(lo ^ l2)
      val ca = chunks(hi, lo); val cb = chunks(h2, l2)
      val collide = ca.zip(cb).exists { case (x, y) => x == y }
      // (1) any pair within Hamming 3 shares at least one chunk —
      //     the candidate set of the banded join is COMPLETE at tau=3
      val complete = ham > 3 || collide
      // (2) the banding loses no bits: chunks reassemble (hi, lo)
      val reassembled = (ca(2) | (ca(3) << 16)) == hi &&
        (ca(0) | (ca(1) << 16)) == lo
      complete && reassembled
    }

  // ---- MMR shifted-nonneg division identity -------------------------

  private val relSim = Gen.zip(
    Gen.choose(-1000000L, 1000000L), Gen.choose(-1000000L, 1000000L))

  property("MMR shifted-div: truncating and flooring division agree on " +
      "the shifted domain and recover the unshifted MMR score") =
    forAll(relSim) { case (rel, maxsim) =>
      // the mmrRerank/mmrOracle update, on any e6 cosines in [-1,1]
      val num = 7 * (rel + 1000000L) + 3 * (1000000L - maxsim)
      val truncDiv = num / 10                  // Scala/Spark `div` (trunc)
      val floorDiv = Math.floorDiv(num, 10)    // DuckDB `//` (floor)
      // reference computed in exact rationals scaled by 10:
      // mmr = (7·rel − 3·maxsim)/10; the shifted form must floor it
      val unshifted = truncDiv - 1000000L
      val exactFloor =
        Math.floorDiv(7 * rel - 3 * maxsim + 10000000L, 10) - 1000000L
      num >= 0 && truncDiv == floorDiv && unshifted == exactFloor
    }

  // --- skyline (q_skyline_parts): the sort-based filter is the
  // DEFINITION. Duplicates, price ties, and size ties are the traps:
  // identical points must BOTH survive (domination needs one strict
  // inequality), same-price points must compare within the group.
  private val pricedPoints: Gen[List[(Long, Int)]] =
    Gen.listOf(Gen.zip(Gen.chooseNum(0L, 20L), Gen.chooseNum(0, 20)))

  property("skyline sort-based filter equals brute-force domination " +
      "on any point set (ties and duplicates included)") =
    forAll(pricedPoints) { pts =>
      val brute = pts.filter { case (pa, sa) =>
        !pts.exists { case (pb, sb) =>
          pb <= pa && sb >= sa && (pb < pa || sb > sa)
        }
      }
      val sortBased = pts.filter { case (pa, sa) =>
        val strictlyCheaperMax =
          pts.collect { case (pb, sb) if pb < pa => sb }
        val grpMax = pts.collect { case (pb, sb) if pb == pa => sb }.max
        (strictlyCheaperMax.isEmpty || sa > strictlyCheaperMax.max) &&
          sa == grpMax
      }
      brute.sorted == sortBased.sorted
    }

  // ---- systematic resampling (q_llm_sys_resample's arithmetic) ------

  private val weightLists =
    Gen.nonEmptyListOf(Gen.chooseNum(1L, 10000L))

  property("systematic resampling telescopes to exactly N picks for " +
      "any positive weights, and no doc exceeds ceil(w*N/W)+1") =
    forAll(weightLists, Gen.chooseNum(1, 500)) { (ws, n) =>
      val total = ws.sum
      val cums = ws.scanLeft(0L)(_ + _).tail
      val picks = ws.zip(cums).map { case (w, cum) =>
        cum * n / total - (cum - w) * n / total
      }
      // ⌊cum·N/W⌋ telescopes: the sum is ⌊W·N/W⌋ − ⌊0⌋ = N exactly —
      // the property that makes the resampler budget-exact with no RNG
      picks.sum == n.toLong &&
        picks.forall(_ >= 0) &&
        picks.zip(ws).forall { case (p, w) =>
          p <= (w.toDouble * n / total).ceil.toLong + 1
        }
    }

  // ---- shifted-ratio idiom (q_ts_acf / q_graph_assortativity) -------

  private val numDen = for {
    den <- Gen.chooseNum(1L, 1000000L)
    num <- Gen.chooseNum(-den, den) // Cauchy–Schwarz regime: |num| ≤ den
  } yield (num, den)

  property("shifted ratio (num+den)*1e4 div (2*den) is truncation-proof:" +
      " JVM truncating / equals BigInt floor, and the raw signed div" +
      " does diverge on negatives (the idiom's reason to exist)") =
    forAll(numDen) { case (num, den) =>
      val dividend = (num + den) * 10000L
      // non-negative dividend ⇒ truncation (Spark div, JVM /) == floor
      // (DuckDB //) — the engines cannot disagree
      val trunc = dividend / (2 * den)
      val floorv = BigInt(dividend)
        .underlying.divide(java.math.BigInteger.valueOf(2 * den)).longValue
      // witness for the raw form: floor and trunc differ on any
      // negative non-exact quotient, which |num| ≤ den permits
      val rawTrunc = num * 10000L / den
      val rawFloor = {
        val q = BigInt(num * 10000L); val d = BigInt(den)
        val (bq, br) = q /% d
        (if (br < 0) bq - 1 else bq).longValue
      }
      trunc == floorv &&
        (num * 10000L % den == 0 || num >= 0 || rawTrunc == rawFloor + 1)
    }
}
