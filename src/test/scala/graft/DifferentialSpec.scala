package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Seeded randomized differential tests: operators vs naive in-memory
  * reference implementations on adversarial small data (null keys and
  * times, duplicate timestamps, hot keys, empty sides). Deterministic
  * seeds — failures reproduce exactly.
  */
class DifferentialSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("AsOfJoinExec matches a naive nested-loop as-of on random data") {
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      def key() = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(6).toLong)
      def time() = if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(50).toLong)
      val left = (0 until 120).map(i => (i.toLong, key(), time()))
      // unique (key, time) on the right, as the operator contract asks
      val right = rnd.shuffle(
        (for (k <- 0L until 6L; t <- 0L until 50L) yield (k, t)).toVector)
        .take(80).zipWithIndex
        .map { case ((k, t), i) => (1000L + i, Some(k), Some(t), rnd.nextDouble()) }
      val tol = 13L
      val lDf = left.toDF("lid", "k", "t")
      val rDf = right.toDF("rid", "rk", "rt", "v")
      val got = graft.plans.AsOfJoin.backward(lDf, rDf, "k", "rk", "t", "rt", tol)
        .select("lid", "rid").as[(Long, Option[Long])].collect().toMap
      // naive reference: scan all right rows per left row
      val expected = left.map { case (lid, k, t) =>
        val m = for {
          kk <- k; tt <- t
        } yield right.filter(r => r._2.contains(kk) && r._3.exists(rt => rt <= tt && tt - rt <= tol))
          .sortBy(_._3.get).lastOption.map(_._1)
        lid -> m.flatten
      }.toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("salted join matches plain join on random skewed data") {
    for (seed <- Seq(3, 11)) {
      val rnd = new scala.util.Random(seed)
      val probe = (0 until 300).map { i =>
        (if (rnd.nextInt(4) == 0) rnd.nextInt(8).toLong else 0L, i) // hot key 0
      }.toDF("k", "line")
      val build = (0 until 30).map(i => (rnd.nextInt(10).toLong, s"d$i")).toDF("bk", "name")
      val salted = graft.operators.SkewJoin
        .salted(probe, build, "k", "bk", salts = 4, saltBy = col("line"))
        .collect().map(_.toSeq).toList.sortBy(_.toString)
      val plain = probe.join(build, col("k") === col("bk"))
        .collect().map(_.toSeq).toList.sortBy(_.toString)
      assert(salted == plain, s"seed=$seed")
    }
  }

  /** (node, component) rows of [[graft.operators.Components]] on
    * `edges`, once by union-find in one task and once by the star loop
    * (a one-task bound of 0 rows); both must agree, and each node
    * appears once. */
  private def components(edges: org.apache.spark.sql.DataFrame): Set[(Any, Any)] = {
    def rows(labels: org.apache.spark.sql.DataFrame) = labels.collect().map(r => (r.get(0), r.get(1))).toSeq
    val oneTask = rows(graft.operators.Components.connectedComponents(edges))
    val starLoop = rows(graft.operators.Components.solve(edges, "id_a", "id_b", 15, oneTaskEdges = 0))
    assert(oneTask.map(_._1).distinct.size == oneTask.size, s"a node twice: $oneTask")
    assert(oneTask.toSet == starLoop.toSet, "the one-task and star-loop paths differ")
    oneTask.toSet
  }

  test("connectedComponents matches union-find on random graphs") {
    for (seed <- Seq(5, 23)) {
      val rnd = new scala.util.Random(seed)
      val nodes = 60
      val edges = (0 until 70).map(_ => (rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
      val got = components(edges.toDF("id_a", "id_b"))
      // union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // canonical label = min node of the component, matching the operator
      val expected = touched.map { n =>
        val root = find(n)
        (n, touched.filter(m => find(m) == root).min)
      }.toSet[(Any, Any)]
      assert(got == expected, s"seed=$seed")
    }
  }

  test("connectedComponents keeps int and string ids in their type and order") {
    val ints = Seq((3, 1), (1, 2), (9, 8)).toDF("id_a", "id_b")
    assert(graft.operators.Components.connectedComponents(ints).schema.map(_.dataType.typeName) ==
      Seq("integer", "integer"))
    assert(components(ints) == Set((1, 1), (2, 1), (3, 1), (8, 8), (9, 8)))
    // binary string order: upper case sorts before lower case
    val strs = Seq(("b", "a"), ("c", "b"), ("a", "B"), ("y", "x")).toDF("id_a", "id_b")
    assert(components(strs) ==
      Set(("a", "B"), ("b", "B"), ("c", "B"), ("B", "B"), ("x", "x"), ("y", "x")))
  }

  test("connectedComponents: a self-loop names a node, a null endpoint joins nothing") {
    val loops = Seq((5L, 5L), (1L, 2L), (2L, 2L)).toDF("id_a", "id_b")
    assert(components(loops) == Set((5L, 5L), (1L, 1L), (2L, 1L)))
    val nulls = Seq((Some(4L), None), (Some(2L), Some(3L)), (None, Some(3L)), (None, None))
      .toDF("id_a", "id_b")
    assert(components(nulls) == Set((4L, 4L), (2L, 2L), (3L, 2L), (null, null)))
  }

  test("Hierarchy.ancestors matches BFS transitive closure on random DAGs") {
    for (seed <- Seq(2, 31)) {
      val rnd = new scala.util.Random(seed)
      // parent id < child id => acyclic by construction
      val edges = (1 until 40).flatMap { c =>
        (0 until rnd.nextInt(3)).map(_ => (c.toLong, rnd.nextInt(c).toLong))
      }.distinct
      // maxDepth above any chain this DAG can produce: the reference
      // closure below is uncapped
      val got = graft.operators.Hierarchy
        .ancestors(edges.toDF("child", "parent"), "child", "parent", maxDepth = 45)
        .select("node", "anc").as[(Long, Long)].collect().toSet
      val up = edges.groupBy(_._1).map { case (c, es) => c -> es.map(_._2).toSet }
      def closure(n: Long): Set[Long] = {
        val direct = up.getOrElse(n, Set.empty)
        direct ++ direct.flatMap(closure)
      }
      val expected = up.keySet.flatMap(n => closure(n).map(a => n -> a))
      assert(got == expected, s"seed=$seed")
    }
  }

  test("timeRangeJoin matches a nested-loop window join on random timestamps") {
    for (seed <- Seq(13, 29)) {
      val rnd = new scala.util.Random(seed)
      val tol = 30L // seconds
      def ts() = 1700000000L + rnd.nextInt(600) // 10-minute spread
      val left = (0 until 80).map(i => (i.toLong, rnd.nextInt(4).toLong, ts()))
      val right = (0 until 80).map(i => (1000L + i, rnd.nextInt(4).toLong, ts()))
      val lDf = left.toDF("lid", "k", "lt")
        .select(col("lid"), col("k"), timestamp_seconds(col("lt")).as("lts"))
      val rDf = right.toDF("rid", "rk", "rt")
        .select(col("rid"), col("rk"), timestamp_seconds(col("rt")).as("rts"))
      val got = graft.operators.RangeJoin
        .timeRangeJoin(lDf, rDf, "k", "rk", "lts", "rts", toleranceSec = tol)
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      val expected = (for {
        (lid, k, lt) <- left
        (rid, rk, rt) <- right
        if k == rk && math.abs(lt - rt) <= tol
      } yield (lid, rid)).toSet
      assert(got == expected, s"seed=$seed")
    }
  }

  test("Scd2.history matches a naive run-collapse on random snapshots") {
    for (seed <- Seq(17, 41)) {
      val rnd = new scala.util.Random(seed)
      val statuses = Vector(Some("a"), Some("b"), Some("c"), None)
      val snaps = (0 until 12).flatMap { k =>
        // unique ts per key: tie-break never needed
        rnd.shuffle((0 until 30).toList).take(5 + rnd.nextInt(10)).map { t =>
          (k.toLong, t.toLong, rnd.nextLong(), statuses(rnd.nextInt(statuses.size)))
        }
      }
      val df = snaps.toDF("k", "t", "eid", "status")
        .select(col("k"), timestamp_seconds(col("t")).as("ts"), col("eid"), col("status"))
      val got = graft.operators.Scd2
        .history(df, Seq("k"), "ts", Seq("status"), tieBreak = Seq("eid"))
        .select(col("k"), col("version").cast("int"), col("status"), col("n_snapshots"))
        .as[(Long, Int, Option[String], Long)].collect().toSet
      val expected = snaps.groupBy(_._1).toSeq.flatMap { case (k, rows) =>
        val sorted = rows.sortBy(_._2).map(r => (r._4, 1L))
        val runs = sorted.foldLeft(Vector.empty[(Option[String], Long)]) {
          case (acc, (st, n)) =>
            if (acc.nonEmpty && acc.last._1 == st)
              acc.init :+ (st, acc.last._2 + n)
            else acc :+ (st, n)
        }
        runs.zipWithIndex.map { case ((st, n), i) => (k, i + 1, st, n) }
      }.toSet
      assert(got == expected, s"seed=$seed")
    }
  }

  test("AsOf.nearest matches a naive nearest-within-tolerance reference") {
    for (seed <- Seq(9, 27)) {
      val rnd = new scala.util.Random(seed)
      val base = 1700000000L
      def key() = if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(4).toLong)
      val left = (0 until 100).map(i =>
        (i.toLong, key(), base + rnd.nextInt(400)))
      val right = (0 until 90).map(i =>
        // duplicate (key, ts) pairs on purpose: tie-break must decide
        (1000L + i, key(), base + rnd.nextInt(400) / 2 * 2, rnd.nextDouble()))
      val tol = 20L
      val lDf = left.toDF("lid", "k", "lt")
        .select(col("lid"), col("k"), timestamp_seconds(col("lt")).as("lts"))
      val rDf = right.toDF("rid", "rk", "rt", "v")
        .select(col("rid"), col("rk"), timestamp_seconds(col("rt")).as("rts"),
          col("v"))
      val got = graft.operators.AsOf.nearest(lDf, rDf, "k", "rk", "lts", "rts",
          valueCols = Seq("rid"), toleranceSec = tol, rightTieBreak = "rid")
        .select("lid", "rid").as[(Long, Option[Long])].collect().toMap
      val expected = left.map { case (lid, k, lt) =>
        val cands = for {
          kk <- k.toSeq
          (rid, rk, rt, _) <- right if rk.contains(kk) && math.abs(rt - lt) <= tol
        } yield (rid, rt)
        // nearest; ties between directions resolve backward (rt <= lt);
        // equal-timestamp duplicates resolve to the min tie-break (rid)
        lid -> cands.sortBy { case (rid, rt) =>
          (math.abs(rt - lt), if (rt <= lt) 0L else 1L, rid)
        }.headOption.map(_._1)
      }.toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("exact dedup keeps exactly one survivor per content group (random dupes)") {
    val rnd = new scala.util.Random(19)
    val texts = Vector("alpha beta", "gamma", "delta epsilon zeta", "eta", "theta iota")
    val docs = (0 until 200).map(i => (i.toLong, texts(rnd.nextInt(texts.size))))
      .toDF("doc_id", "text")
    val survivors = graft.operators.Dedup.exact(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    // reference: min doc_id per distinct normalized content
    val rows = docs.as[(Long, String)].collect()
    val expectedSet = rows.groupBy(_._2).map { case (_, g) => g.map(_._1).min }.toSet
    assert(survivors == expectedSet)
  }

  test("welchT and chiSquare match naive references on random grouped data") {
    for (seed <- Seq(2, 17)) {
      val rnd = new scala.util.Random(seed)
      val rows = for {
        g <- Seq("g1", "g2", "g3")
        i <- 1 to (20 + rnd.nextInt(30))
      } yield (g, if (rnd.nextBoolean()) "a" else "b",
        if (rnd.nextBoolean()) "x" else "y",
        math.floor(rnd.nextDouble() * 10000) / 100)
      val df = rows.toDF("g", "cohort", "flag", "v")
      // Welch per group vs naive double-precision reference
      val gotW = graft.operators.Stats
        .welchT(df, Seq("g"), "v", "cohort", "a", "b")
        .select("g", "t_stat").as[(String, Option[Double])].collect().toMap
      rows.groupBy(_._1).foreach { case (g, rs) =>
        val (as, bs) = (rs.filter(_._2 == "a").map(_._4), rs.filter(_._2 == "b").map(_._4))
        def mv(xs: Seq[Double]) = {
          val m = xs.sum / xs.size
          (m, xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1))
        }
        if (as.size >= 2 && bs.size >= 2) {
          val ((ma, va), (mb, vb)) = (mv(as), mv(bs))
          val t = (ma - mb) / math.sqrt(va / as.size + vb / bs.size)
          assert(math.abs(gotW(g).get - t) < 1e-6, s"seed=$seed group=$g welch")
        }
      }
      // chi2 per group vs naive contingency reference
      val gotC = graft.operators.Stats.chiSquare(df, Seq("g"), "cohort", "flag")
        .select("g", "chi2").as[(String, Double)].collect().toMap
      rows.groupBy(_._1).foreach { case (g, rs) =>
        val n = rs.size.toDouble
        val cells = rs.groupBy(r => (r._2, r._3)).view.mapValues(_.size.toDouble)
        val chi2 = cells.map { case ((a, b), o) =>
          val e = rs.count(_._2 == a) * rs.count(_._3 == b) / n
          (o - e) * (o - e) / e
        }.sum
        assert(math.abs(gotC(g) - chi2) < 1e-6, s"seed=$seed group=$g chi2")
      }
    }
  }

  test("dedupSpans matches a naive span-ban reference on random corpora") {
    for (seed <- Seq(5, 23, 91)) {
      val rnd = new scala.util.Random(seed)
      val k = 2 + rnd.nextInt(3)          // span size 2-4
      val maxOccur = 1 + rnd.nextInt(2)   // ban threshold 1-2
      val vocab = Vector("aa", "bb", "cc", "dd", "ee")
      val docs = (1L to 60L).map { id =>
        val n = 1 + rnd.nextInt(12)
        id -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val got = graft.operators.Dedup
        .dedupSpans(docs.toDF("doc_id", "text"), "doc_id", "text", k, maxOccur)
        .select("doc_id", "n_spans", "n_removed", "clean_text")
        .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
      // naive: window, count corpus-wide, ban, reassemble in order
      val spans = docs.map { case (id, t) => id -> t.split(" ").grouped(k).map(_.mkString(" ")).toSeq }
      val counts = spans.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
      spans.foreach { case (id, ss) =>
        val kept = ss.filter(s => counts(s) <= maxOccur)
        val (gid, gn, grm, gtext) = got(id)
        assert(gid == id && gn == ss.size && grm == ss.size - kept.size &&
          gtext == kept.mkString(" "),
          s"seed=$seed k=$k maxOccur=$maxOccur doc=$id")
      }
    }
  }

  test("BpeCodec matches a naive re-derivation of the merge fold on random words") {
    // naive reference: literally re-run "find the lowest-rank pair via
    // linear search over the merge LIST, then split-and-rejoin with
    // string ops" — same contract, none of the codec's indexing/caching
    def naiveEncode(word: String, merges: Seq[(String, String)]): Seq[String] = {
      var parts = word.map(_.toString).toList
      var changed = true
      while (changed && parts.length >= 2) {
        val present = merges.zipWithIndex.filter { case ((l, r), _) =>
          parts.zip(parts.tail).contains((l, r)) }
        if (present.isEmpty) changed = false
        else {
          val (l, r) = present.minBy(_._2)._1
          val out = scala.collection.mutable.ListBuffer[String]()
          var rest = parts
          while (rest.nonEmpty) rest match {
            case a :: b :: t if a == l && b == r => out += a + b; rest = t
            case a :: t                          => out += a; rest = t
            case Nil                             =>
          }
          parts = out.toList
        }
      }
      parts
    }
    for (seed <- Seq(2, 13, 77)) {
      val rnd = new scala.util.Random(seed)
      val alphabet = "abcd"
      def word() = (0 until 1 + rnd.nextInt(10))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      // random merge table over the same alphabet (incl. multi-char rights)
      val units = Seq("a", "b", "c", "d", "ab", "cd", "bc", "aa")
      val merges = rnd.shuffle(
        (for (l <- units; r <- units) yield (l, r)).toVector).take(12)
      val codec = new graft.operators.Tokenize.BpeCodec(merges)
      (0 until 200).foreach { _ =>
        val w = word()
        assert(codec.encodeWord(w).toSeq == naiveEncode(w, merges),
          s"seed=$seed word=$w merges=$merges")
      }
    }
  }

  test("Pack.sequences invariants hold under random sizes and budgets") {
    for (seed <- Seq(4, 29)) {
      val rnd = new scala.util.Random(seed)
      val maxTokens = 64 + rnd.nextInt(512)
      val docs = (1L to 400L)
        .map(i => (i, rnd.nextInt(2 * maxTokens) + 1)).toSeq
      val bins = graft.operators.Pack.sequences(
          docs.toDF("doc_id", "n_tok"), "doc_id", "n_tok",
          maxTokens, numShards = 5, maxOpenBins = 8)
        .collect()
      val packed = bins.flatMap(_.getString(5).split(",")).map(_.toLong)
      assert(packed.sorted.toSeq == (1L to 400L).toSeq, s"seed=$seed") // exactly once
      bins.foreach { r =>
        if (r.getBoolean(4)) assert(r.getInt(1) == 1 && r.getInt(2) > maxTokens)
        else assert(r.getInt(2) <= maxTokens, s"seed=$seed bin over budget")
      }
      val byId = docs.toMap
      bins.foreach { r => // per-bin total is the sum of its members
        assert(r.getInt(2) == r.getString(5).split(",").map(s => byId(s.toLong)).sum)
      }
    }
  }
}
