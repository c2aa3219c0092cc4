package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("hashSplit: exhaustive over 10k ids — exact shares, every row assigned") {
    val df = (0L until 10000L).toDF("id")
    val counts = Curation.hashSplit(df, "id", 8000, 1000)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    // the Feistel mix is uniform but not exactly proportional on a finite
    // id range; shares must be within 2% of nominal and cover all rows
    assert(counts.values.sum == 10000L)
    assert(math.abs(counts("train") - 8000L) <= 200)
    assert(math.abs(counts("val") - 1000L) <= 200)
    assert(math.abs(counts("test") - 1000L) <= 200)
  }

  test("leakageSafeSplit: near-dup clusters never straddle splits; singletons match hashSplit") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = (0L until 60L).map { i =>
      // every 10th doc gets a near-verbatim copy at id i+1000 — a
      // ≥0.8-Jaccard pair that per-row splitting could tear apart
      (i, s"doc $i $base unique token$i")
    } ++ (0L until 60L by 10L).map(i => (i + 1000L, s"doc $i $base unique token$i extra"))
    val df = docs.toDF("doc_id", "text")
    val out = Curation.leakageSafeSplit(df, "text", "doc_id", 8000, 1000)
      .select("doc_id", "cluster", "split")
      .as[(Long, Long, String)].collect()
    // the planted pairs share a cluster AND a split
    (0L until 60L by 10L).foreach { i =>
      val a = out.find(_._1 == i).get
      val b = out.find(_._1 == i + 1000L).get
      assert(a._2 == b._2, s"pair $i not clustered: $a $b")
      assert(a._3 == b._3, s"near-dup pair $i straddles splits: $a $b")
    }
    // no cluster anywhere straddles splits
    out.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.map(_._3).distinct.size == 1, s"cluster $c straddles: ${rows.toSeq}")
    }
    // singleton docs (cluster == own id) get exactly the hashSplit label
    val plain = Curation.hashSplit(df, "doc_id", 8000, 1000)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    out.filter(r => r._1 == r._2).foreach { case (id, _, s) =>
      assert(plain(id) == s, s"singleton $id diverged from hashSplit")
    }
  }

  test("hashSplit: strided/structured ids still split at the nominal shares") {
    // a bare multiplicative hash mod 10^4 is LINEAR in (id mod 10^4):
    // ids that are multiples of 10000 would all share one bucket and land
    // 100% in one split. The Feistel mix must not let id residue
    // structure pass through.
    for (stride <- Seq(10000L, 625L, 4096L)) {
      val df = (0L until 4000L).map(_ * stride).toDF("id")
      val counts = Curation.hashSplit(df, "id", 8000, 1000)
        .groupBy("split").count().as[(String, Long)].collect().toMap
      assert(math.abs(counts.getOrElse("train", 0L) - 3200L) <= 150, s"stride=$stride: $counts")
      assert(math.abs(counts.getOrElse("val", 0L) - 400L) <= 100, s"stride=$stride: $counts")
      assert(math.abs(counts.getOrElse("test", 0L) - 400L) <= 100, s"stride=$stride: $counts")
    }
  }

  test("composed selections are independent: sample -> split keeps nominal shares") {
    // the ops hash with DIFFERENT salts; unsalted, every sampled survivor
    // would satisfy bucket < rate < trainShare and land in 'train'
    val df = (0L until 20000L).map(i => (i, "s")).toDF("id", "st")
    val sampled = Curation.stratifiedSample(df, "id", "st", Map("s" -> 1000))
    val n = sampled.count().toDouble // ~2000
    val counts = Curation.hashSplit(sampled.toDF(), "id", 8000, 1000)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"), counts.toString)
    assert(math.abs(counts("train") - 0.8 * n) <= 0.06 * n, s"n=$n $counts")
    assert(math.abs(counts("val") - 0.1 * n) <= 0.04 * n, s"n=$n $counts")
    // and the mixture's fractional copy is independent of the sample too
    val mixed = Curation.epochMixture(sampled.toDF(), "id", "st", Map("s" -> 1.3))
    assert(math.abs(mixed.count() - 1.3 * n) <= 0.06 * n, s"n=$n got ${mixed.count()}")
  }

  test("hashSplit: share-sum overflow and null ids are surfaced, not mislabeled") {
    intercept[IllegalArgumentException] {
      Curation.hashSplit((1L to 3L).toDF("id"), "id", 2000000000, 2000000000)
    }
    val withNull = Seq(Some(1L), Some(2L), None).toDF("id")
    val splits = Curation.hashSplit(withNull, "id", 8000, 1000)
      .select("split").as[Option[String]].collect()
    assert(splits.count(_.isEmpty) == 1, "null id must get a null split, never 'test'")
  }

  test("tokenBudget: null token counts are excluded without poisoning the running sum") {
    val df = Seq(
      ("g", 1L, Some(30L), 9), ("g", 2L, None, 8), ("g", 3L, Some(40L), 7)
    ).toDF("src", "id", "toks", "prio")
    val out = Curation.tokenBudget(df, "src", "toks", col("prio"), "id", budget = 80L)
      .select("id", "cum_tokens").as[(Long, Long)].collect().toSet
    // id 2 (null tokens) is dropped but costs nothing; id 3 still fits
    assert(out == Set((1L, 30L), (3L, 70L)))
  }

  test("hashSplit: assignment is a pure function of the id (repartition-stable)") {
    val df = (0L until 1000L).toDF("id")
    val a = Curation.hashSplit(df, "id", 7000, 1500).select("id", "split")
    val b = Curation.hashSplit(df.repartition(7), "id", 7000, 1500).select("id", "split")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("stratifiedSample: per-stratum rates honored, samples nest as rates rise") {
    val df = (0L until 6000L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "s")
    val kept = Curation.stratifiedSample(df, "id", "s", Map("a" -> 5000, "b" -> 1000))
    val byStratum = kept.groupBy("s").count().as[(String, Long)].collect().toMap
    assert(math.abs(byStratum("a") - 1500L) <= 90) // 3000 ids × 50% ± 3%
    assert(math.abs(byStratum("b") - 300L) <= 90)  // 3000 ids × 10% ± 3%
    // nesting: every row kept at a lower rate survives at a higher rate
    val lower = Curation.stratifiedSample(df, "id", "s", Map("a" -> 2000, "b" -> 500))
    assert(lower.exceptAll(kept).isEmpty)
    // unlisted strata default to 0 → dropped entirely
    assert(Curation.stratifiedSample(df, "id", "s", Map("a" -> 5000)).filter($"s" === "b").isEmpty)
  }

  test("tokenBudget: greedy cutoff per group, cum_tokens never exceeds budget") {
    val df = Seq(
      ("s1", 1L, 40L, 9), ("s1", 2L, 40L, 8), ("s1", 3L, 40L, 7), // third exceeds
      ("s2", 4L, 100L, 5),                                        // alone over budget
      ("s3", 5L, 10L, 1), ("s3", 6L, 20L, 2)                      // all fit
    ).toDF("src", "id", "toks", "prio")
    val out = Curation.tokenBudget(df, "src", "toks", col("prio"), "id", budget = 90L)
      .select("src", "id", "cum_tokens").as[(String, Long, Long)].collect().toSet
    assert(out == Set(("s1", 1L, 40L), ("s1", 2L, 80L), ("s3", 6L, 20L), ("s3", 5L, 30L)))
  }

  test("tokenBudget: priority ties broken by id — deterministic selection") {
    val df = Seq(("g", 10L, 60L, 1), ("g", 11L, 60L, 1)).toDF("src", "id", "toks", "prio")
    val out = Curation.tokenBudget(df, "src", "toks", col("prio"), "id", budget = 60L)
      .select("id").as[Long].collect().toSeq
    assert(out == Seq(10L))
  }

  test("chunkDocuments: boundaries match the naive chunking, empty/null yield none") {
    val docs = Seq(
      (1L, "abcdefghij"),      // len 10
      (2L, "abc"),             // shorter than one chunk
      (3L, ""),                // empty → no chunks
      (4L, null.asInstanceOf[String]),
      (5L, "日本語のテキストです十一字") // 13 chars, multi-byte
    ).toDF("doc_id", "text")
    val out = Curation.chunkDocuments(docs, "text", chunkSize = 4, stride = 3)
      .select("doc_id", "chunk_id", "chunk_text")
      .as[(Long, Int, String)].collect().toSet
    def naive(id: Long, s: String) =
      (0 until s.length by 3).zipWithIndex.map { case (st, i) =>
        (id, i, s.substring(st, math.min(st + 4, s.length)))
      }
    assert(out == (naive(1L, "abcdefghij") ++ naive(2L, "abc")
      ++ naive(5L, "日本語のテキストです十一字")).toSet)
  }

  test("chunkDocuments: stride == chunkSize reconstructs the document exactly") {
    val docs = Seq((7L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val rebuilt = Curation.chunkDocuments(docs, "text", 8, 8)
      .orderBy("chunk_id").agg(concat_ws("", collect_list("chunk_text")))
      .as[String].head()
    assert(rebuilt == "the quick brown fox jumps over the lazy dog")
  }

  test("topFractionByGroup: exact ceil cut per group, score-desc with id tiebreak") {
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 30.0), ("a", 3L, 20.0), ("a", 4L, 30.0), ("a", 5L, 5.0),
      ("b", 6L, 1.0)
    ).toDF("g", "id", "score")
    // 40% of 5 = 2 → ceil keeps 2 of group a: scores 30 (id 2), 30 (id 4).
    // 40% of 1 → ceil(0.4) = 1 → the only b row survives.
    val kept = Curation.topFractionByGroup(df, "g", col("score"), "id", 4000L)
      .select("g", "id").as[(String, Long)].collect().toSet
    assert(kept == Set(("a", 2L), ("a", 4L), ("b", 6L)))
    // keep-all and keep-none edges
    assert(Curation.topFractionByGroup(df, "g", col("score"), "id", 10000L).count() == 6)
    assert(Curation.topFractionByGroup(df, "g", col("score"), "id", 0L).count() == 0)
  }

  test("rankBuckets: per-group tercile slices with exact integer edges; best score = bucket 1") {
    // group a: 7 rows → slices of 3/2/2 by the (rank-1)*3 DIV n edge;
    // group b: 2 rows → buckets 1 and 2 (tail empty) — the exact-DIV
    // edge on n < buckets, same shape ntile(3) would give
    val df = (1L to 7L).map(i => ("a", i, 100.0 - i)) ++ Seq(("b", 8L, 5.0), ("b", 9L, 9.0))
    val out = Curation.rankBuckets(
      df.toDF("g", "id", "score"), "g", col("score"), "id", buckets = 3)
      .select("g", "id", "bucket").as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // a: score desc = ids 1..7; ranks 1-3 → 1, 4-5 → 2, 6-7 → 3
    assert(Seq(1L, 2L, 3L).forall(out("a", _) == 1L), out.toString)
    assert(Seq(4L, 5L).forall(out("a", _) == 2L), out.toString)
    assert(Seq(6L, 7L).forall(out("a", _) == 3L), out.toString)
    // b: best (id 9, score 9) → bucket 1; worst → bucket 2
    assert(out(("b", 9L)) == 1L && out(("b", 8L)) == 2L, out.toString)
    // ties break by id: equal scores rank id-ascending
    val tied = Curation.rankBuckets(
      Seq(("g", 1L, 1.0), ("g", 2L, 1.0), ("g", 3L, 1.0)).toDF("g", "id", "score"),
      "g", col("score"), "id", buckets = 3)
      .select("id", "bucket").as[(Long, Long)].collect().toMap
    assert(tied == Map(1L -> 1L, 2L -> 2L, 3L -> 3L), tied.toString)
  }

  test("packSequences: offsets equal the naive global cumsum, any partitioning") {
    val rows = (0L until 500L).map(i => (i, 1L + (i * 37) % 90)) // varied token counts
    val naiveOffsets = rows.map(_._2).scanLeft(0L)(_ + _).init
    val expected = rows.zip(naiveOffsets).map { case ((id, tk), off) =>
      (id, off, off / 128, off % 128, (off + tk - 1) / 128 > off / 128)
    }.toSet
    for (parts <- Seq(1, 3, 16)) {
      val out = Curation.packSequences(
        rows.toDF("id", "toks").repartition(parts), "id", "toks", capacity = 128L)
        .select("id", "start_offset", "seq_id", "seq_pos", "spans_boundary")
        .as[(Long, Long, Long, Long, Boolean)].collect().toSet
      assert(out == expected, s"parts=$parts")
    }
  }

  test("packSequences: plan has no single-task global window over the data") {
    val df = (0L until 100L).map(i => (i, 5L)).toDF("id", "toks")
    // structural audit: no Window with an empty partitionSpec anywhere in
    // the optimized plan (a global cumsum window would be one)
    def globalWindows(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
    val plan = Curation.packSequences(df, "id", "toks", 64L)
    assert(globalWindows(plan).isEmpty, plan.queryExecution.optimizedPlan)
    // the audit catches the naive form it guards against
    val naive = df.withColumn("start_offset", coalesce(sum("toks").over(
      Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    assert(globalWindows(naive).nonEmpty)
  }

  test("epochMixture: whole weights replicate exactly, fractional adds ~frac share") {
    val df = (0L until 4000L).map(i => (i, if (i % 2 == 0) "hi" else "lo")).toDF("id", "src")
    val out = Curation.epochMixture(df, "id", "src", Map("hi" -> 2.5, "lo" -> 0.25))
    val byS = out.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(byS("hi") >= 2 * 2000 && math.abs(byS("hi") - 5000L) <= 150) // 2000×2.5 ± 3%
    assert(math.abs(byS("lo") - 500L) <= 150)                           // 2000×0.25 ± 3%
    // every kept row carries 0-based contiguous copy ids
    val copies = out.filter($"src" === "hi").groupBy("id")
      .agg(sort_array(collect_list("copy_id")).as("c"))
      .select("c").as[Seq[Long]].collect()
    assert(copies.forall(c => c == (0L until c.length)))
    // unlisted strata drop entirely
    assert(Curation.epochMixture(df, "id", "src", Map("hi" -> 1.0)).filter($"src" === "lo").isEmpty)
  }

  test("shuffleOrder: a permutation, deterministic, and actually shuffled") {
    val df = (0L until 2000L).toDF("id")
    val out = Curation.shuffleOrder(df, "id")
      .select("id", "shuffle_rank").as[(Long, Long)].collect()
    assert(out.map(_._2).sorted.toSeq == (0L until 2000L)) // bijection onto 0..n-1
    val again = Curation.shuffleOrder(df.repartition(5), "id")
      .select("id", "shuffle_rank").as[(Long, Long)].collect()
    assert(out.toMap == again.toMap)
    // not the identity order: most ids moved
    assert(out.count { case (id, r) => id == r } < 100)
    // no long id-ascending runs (a coarse bucket key would leave ~n/10^4
    // consecutive rows in original id order): random order gives max run
    // ~log n
    val idsInRankOrder = out.sortBy(_._2).map(_._1)
    val maxRun = idsInRankOrder.foldLeft((0, 0, Long.MinValue)) {
      case ((best, cur, prev), id) =>
        val c = if (id > prev) cur + 1 else 1
        (math.max(best, c), c, id)
    }._1
    assert(maxRun <= 15, s"max ascending-id run $maxRun")
  }

  test("property: chunkDocuments equals naive chunking on random unicode docs/params") {
    val pieceGen = Gen.oneOf(
      Gen.alphaNumChar.map(_.toString),
      Gen.oneOf(" ", "\t", "\n", "é", "語", "😀", "ß")) // incl. a surrogate pair
    val textGen = Gen.listOfN(40, pieceGen).map(_.mkString)
    val docs = Gen.listOfN(60, textGen).sample.get.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    for ((size, stride) <- Seq((7, 5), (5, 7), (1, 1), (64, 13))) {
      val out = Curation.chunkDocuments(docs.toDF("doc_id", "text"), "text", size, stride)
        .select("doc_id", "chunk_id", "chunk_text")
        .as[(Long, Int, String)].collect().toSet
      // naive reference over code points (Spark substring counts code
      // points, not UTF-16 chars — surrogate pairs like 😀 matter here)
      val expected = docs.filter(_._2.nonEmpty).flatMap { case (id, t) =>
        val cps = t.codePoints().toArray
        (0 until cps.length by stride).zipWithIndex.map { case (st, i) =>
          (id, i, new String(cps, st, math.min(size, cps.length - st)))
        }
      }.toSet
      assert(out == expected, s"size=$size stride=$stride")
    }
  }

  test("property: packSequences offsets match naive cumsum on random token counts") {
    val rows = Gen.listOfN(300, Gen.choose(0L, 50L)).sample.get
      .zipWithIndex.map { case (tk, i) => (i.toLong, tk) }
    val expected = rows.map(_._2).scanLeft(0L)(_ + _).init
      .zip(rows).map { case (off, (id, _)) => (id, off) }.toSet
    val out = Curation.packSequences(
      rows.toDF("id", "toks").repartition(11), "id", "toks", capacity = 64L)
      .select("id", "start_offset").as[(Long, Long)].collect().toSet
    assert(out == expected)
  }

  test("blocklist/allowlist filters match except/intersect semantics; anti is broadcast") {
    val corpus = (1L to 100L).toDF("id")
    val block = Seq(3L, 5L, 5L, 200L).toDF("id") // dup + miss entries tolerated
    val out = Curation.blocklistFilter(corpus, block, "id")
    assert(out.count() == 98 && out.filter($"id".isin(3L, 5L)).isEmpty)
    val allow = Curation.allowlistFilter(corpus, block, "id")
    assert(allow.select("id").as[Long].collect().toSet == Set(3L, 5L))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
  }

  test("randomized: snapshotDiff ≡ naive map compare on 30 seeded snapshot pairs") {
    (1 to 30).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def snap(): Map[Long, Option[String]] =
        (0L until 40L).flatMap { id =>
          if (rnd.nextDouble() < 0.3) None // absent from this snapshot
          else Some(id -> (if (rnd.nextDouble() < 0.15) None
                           else Some(s"v${rnd.nextInt(3)}")))
        }.toMap
      val oldM = snap(); val newM = snap()
      def df(m: Map[Long, Option[String]]) =
        m.toSeq.map { case (id, v) => (id, v) }.toDF("id", "payload")
      val out = Curation.snapshotDiff(df(oldM), df(newM), "id", Seq("payload"))
        .as[(Long, String)].collect().toMap
      val expected = (oldM.keySet ++ newM.keySet).map { id =>
        id -> ((oldM.get(id), newM.get(id)) match {
          case (None, Some(_)) => "added"
          case (Some(_), None) => "removed"
          case (Some(a), Some(b)) => if (a == b) "unchanged" else "changed"
          case _ => sys.error("unreachable")
        })
      }.toMap
      assert(out == expected, s"seed=$seed")
    }
  }

  test("zorderValue interleaves bits; zorderBy yields a global curve order") {
    // a=3 (bits 1,1), b=1 (bits 1,0): positions a0→0, b0→1, a1→2, b1→3
    // ⇒ 0b0111 = 7
    val v = Seq((3L, 1L)).toDF("a", "b")
      .select(Curation.zorderValue($"a", $"b", bits = 2).as("z"))
      .as[Long].head()
    assert(v == 7L, s"expected interleave 7, got $v")
    // curve order is global after repartitionByRange + sortWithinPartitions
    val df = (0L until 64L).flatMap(a => (0L until 4L).map(b => (a % 32, b)))
      .toDF("a", "b")
    val zs = Curation.zorderBy(df, $"a", $"b", bits = 5, tiebreak = Seq($"a", $"b"))
      .select(Curation.zorderValue($"a", $"b", bits = 5))
      .as[Long].collect()
    assert(zs.sameElements(zs.sorted), "rows must come back in z-value order")
  }

  test("snapshotDiff labels added/removed/changed/unchanged with null-safe compares") {
    val oldSnap = Seq(
      (1L, Option("a"), "s1"),
      (2L, Option("b"), "s1"),
      (3L, Option("c"), "s1"),
      (4L, Option.empty[String], "s1"))
      .toDF("id", "text", "source")
    val newSnap = Seq(
      (1L, Option("a"), "s1"),       // unchanged
      (2L, Option("B"), "s1"),       // changed
      (4L, Option("now-set"), "s1"), // NULL → value must read as changed
      (5L, Option("new"), "s1"))     // added; 3 removed
      .toDF("id", "text", "source")
    val out = Curation.snapshotDiff(oldSnap, newSnap, "id", Seq("text", "source"))
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "changed", 5L -> "added"))
  }

  test("splitSentences: terminal punctuation preserved, indexes ordered, empty/null text excluded") {
    val docs = Seq(
      (1L, Some("One. Two!  Three? No trailing")),
      (2L, Some("")),
      (3L, None: Option[String]))
      .toDF("doc_id", "text")
    val got = Curation.splitSentences(docs, "text", "doc_id")
      .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      (1L, 0, "One."), (1L, 1, "Two!"), (1L, 2, "Three?"), (1L, 3, "No trailing")))
  }

  test("chunkBySentences: greedy packing never splits a sentence; oversized sentence stands alone") {
    val docs = Seq((1L, "aaaa. bb. cccc. dd.")).toDF("doc_id", "text")
    val got = Curation.chunkBySentences(docs, "text", "doc_id", maxChars = 9)
      .as[(Long, Int, String)].collect().sortBy(_._2).toSeq
    // "aaaa."+" "+"bb." = 9 fits; "cccc."+" "+"dd." = 9 fits
    assert(got == Seq((1L, 0, "aaaa. bb."), (1L, 1, "cccc. dd.")))
    val tiny = Curation.chunkBySentences(docs, "text", "doc_id", maxChars = 3)
      .as[(Long, Int, String)].collect().sortBy(_._2).map(_._3).toSeq
    assert(tiny == Seq("aaaa.", "bb.", "cccc.", "dd."), "each sentence its own oversized chunk")
  }

  test("groupQuota: caps each group deterministically, keeps small groups whole, drops null ids") {
    val df = ((1L to 100L).map(i => (Some(i), if (i <= 95) "big" else "small")) :+
      ((None: Option[Long]) -> "big")).toDF("doc_id", "source")
    val got = Curation.groupQuota(df, "source", "doc_id", maxPerGroup = 10)
      .as[(Long, String)].collect()
    val bySrc = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(bySrc("big").size == 10, "oversized group capped")
    assert(bySrc("small") == (96L to 100L).toSet, "under-quota group kept whole")
    // deterministic: the same rows every run
    val again = Curation.groupQuota(df, "source", "doc_id", maxPerGroup = 10)
      .as[(Long, String)].collect().toSet
    assert(again == got.toSet)
    // the selection hash-samples (mix60-smallest), not lowest-id-first
    assert(bySrc("big") != (1L to 10L).toSet,
      "quota must hash-select, not take the lowest ids")
  }

  test("temperatureMixture: per-group targets follow floor(sqrt(n·nmin)); α=1 keeps all; deterministic") {
    // A=9, B=4, C=1 → nmin=1 → targets 3, 2, 1
    val rows = ((1L to 9L).map(i => (i, "A")) ++ (10L to 13L).map(i => (i, "B")) ++
      Seq((14L, "C"))).toDF("id", "g")
    val out = Curation.temperatureMixture(rows, "g", "id")
      .as[(Long, String)].collect().toSeq
    val sizes = out.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes == Map("A" -> 3, "B" -> 2, "C" -> 1), s"got $sizes")
    // deterministic rerun, and hash-selected (not simply the lowest ids)
    val again = Curation.temperatureMixture(rows, "g", "id")
      .as[(Long, String)].collect().toSeq
    assert(out.toSet == again.toSet)
    assert(out.filter(_._2 == "A").map(_._1).toSet != Set(1L, 2L, 3L),
      "must hash-select, not take the lowest ids")
    // α = 1 keeps every row; null ids are excluded; null group is real
    val withNulls = rows.unionByName(
      Seq((java.lang.Long.valueOf(20L), null.asInstanceOf[String]),
        (null.asInstanceOf[java.lang.Long], "A")).toDF("id", "g"))
    assert(Curation.temperatureMixture(withNulls, "g", "id", alpha = 1.0).count() == 15)
    val nullGroup = Curation.temperatureMixture(withNulls, "g", "id")
      .filter(col("g").isNull).as[(Long, String)].collect()
    assert(nullGroup.map(_._1).toSeq == Seq(20L))
  }

  test("randomized: temperatureMixture targets = floor(sqrt(n·nmin)) on 20 seeded distributions") {
    (1 to 20).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val groups = (0 until 2 + rnd.nextInt(5)).map(g => (s"g$g", 1 + rnd.nextInt(40)))
      var nextId = 0L
      val rows = groups.flatMap { case (g, n) =>
        (0 until n).map { _ => nextId += 1; (nextId, g) }
      }
      val out = Curation.temperatureMixture(rows.toDF("id", "g"), "g", "id")
        .as[(Long, String)].collect().toSeq
      val nmin = groups.map(_._2).min.toLong
      val sizes = out.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      groups.foreach { case (g, n) =>
        val expect = math.floor(math.sqrt((n.toLong * nmin).toDouble)).toLong
        assert(sizes.getOrElse(g, 0L) == expect,
          s"seed $seed group $g (n=$n, nmin=$nmin): got ${sizes.getOrElse(g, 0L)}, want $expect")
      }
      // kept rows are a subset of the group's own rows
      val byGroup = rows.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
      assert(out.forall { case (id, g) => byGroup(g)(id) })
    }
  }

  test("curateCorpus: filter → dedup(min id) → split composes as one plan") {
    val good = ("the and of words mixed " * 20).trim // passes every Gopher rule
    val rows = Seq(
      (10L, good), (3L, good),       // exact dups: min id 3 survives
      (7L, "too short"),             // fails Gopher
      (5L, good + " unique tail the and")
    ).toDF("doc_id", "text")
      .unionByName(Seq(good).toDF("text")
        .withColumn("doc_id", lit(null).cast("long")).select("doc_id", "text"))
    val out = Curation.curateCorpus(rows, "doc_id", "text")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(out.keySet == Set(3L, 5L), s"got $out")
    assert(out.values.forall(Set("train", "val", "test")))
    // the split matches hashSplit on the same ids (stage composition only)
    val direct = Curation.hashSplit(rows.filter(col("doc_id").isin(3L, 5L)),
      "doc_id", 9800, 100).select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(out == direct)
  }

  test("curateWebCorpus: line cleanup feeds the standard pipeline; doc rules drop whole docs") {
    // a line that passes C4 (>=3 words, terminal punct) AND — alone —
    // passes every Gopher rule
    val goodLine = ("the and of words mixed " * 20).trim + " and ends."
    val rows = Seq(
      // kept line + dropped boilerplate lines → survives with cleaned text
      (1L, goodLine + "\nshort\nPlease enable javascript now.\n"),
      // same CLEANED content as doc 1 (raw differs by boilerplate only)
      // → dedup collapses to min id 1: line cleanup BEFORE dedup
      (2L, goodLine + "\nEnable JAVASCRIPT here today.\n"),
      // lorem ipsum → whole doc dropped despite a good line
      (3L, goodLine + "\nlorem ipsum dolor"),
      // brace → whole doc dropped
      (4L, goodLine + "\nint f() { return 1; }"),
      // every line dropped → nothing left to train on
      (5L, "short\nno punct line here\n"),
      // distinct good content survives
      (6L, goodLine + " extra the and tail.\nshort\n"))
      .toDF("doc_id", "text")
    val out = Curation.curateWebCorpus(rows, "doc_id", "text")
      .select("doc_id", "text", "split").as[(Long, String, String)]
      .collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1L, 6L), s"got ${out.keySet}")
    // cleaned text: only the surviving lines, rejoined
    assert(out(1L)._2 == goodLine, s"doc 1 cleaned: ${out(1L)._2}")
    assert(out(6L)._2 == goodLine + " extra the and tail.")
    assert(out.values.forall(r => Set("train", "val", "test")(r._3)))
  }

  test("interleaveBySource: round-robin across sources, bounded same-source runs") {
    // 3 sources x uneven sizes (6, 3, 1): the first positions of every
    // source precede ANY second position; exhausted sources drop out
    val df = ((1 to 6).map(i => (i.toLong, "a")) ++
      (11 to 13).map(i => (i.toLong, "b")) :+ (21L, "c"))
      .toDF("doc_id", "source")
    val out = Curation.interleaveBySource(df, "doc_id", "source")
      .orderBy("interleave_rank")
      .select("source", "interleave_rank")
      .as[(String, Long)].collect().toSeq
    assert(out.map(_._2) == (0L until 10L), "rank is a total 0-based order")
    val srcOrder = out.map(_._1)
    // first 3 ranks: one doc from each of the 3 sources (position 1 round)
    assert(srcOrder.take(3).toSet == Set("a", "b", "c"), srcOrder.toString)
    // next round: c is exhausted -> only a and b
    assert(srcOrder.slice(3, 5).toSet == Set("a", "b"), srcOrder.toString)
    // the tail is all-a (the only source with positions 4..6)
    assert(srcOrder.drop(7).forall(_ == "a"), srcOrder.toString)
    // deterministic across runs
    val again = Curation.interleaveBySource(df, "doc_id", "source")
      .orderBy("interleave_rank").select("doc_id").as[Long].collect().toSeq
    val first = Curation.interleaveBySource(df, "doc_id", "source")
      .orderBy("interleave_rank").select("doc_id").as[Long].collect().toSeq
    assert(again == first)
  }

  test("weightedSample: monotone in the weight; clamps; nulls drop") {
    val df = (1L to 2000L).map(i => (i, (i % 300).toInt)).toDF("id", "w")
    def kept(scale: Int): Set[Long] =
      Curation.weightedSample(df, "id", col("w") * scale)
        .select("id").as[Long].collect().toSet
    val k1 = kept(1)
    val k10 = kept(10)
    assert(k1.nonEmpty && k1.size < 2000, s"partial keep expected: ${k1.size}")
    assert(k1.subsetOf(k10), "raising every weight must only ADD rows")
    // weight 0 keeps nothing; weight >= 10000 keeps everything non-null
    assert(Curation.weightedSample(df, "id", lit(0)).count() == 0L)
    assert(Curation.weightedSample(df, "id", lit(999999)).count() == 2000L)
    assert(Curation.weightedSample(df, "id", lit(-5)).count() == 0L,
      "negative weights clamp to 0")
    // null id and null weight both drop
    val withNulls = Seq(
      (Some(1L), Some(10000)), (Option.empty[Long], Some(10000)),
      (Some(2L), Option.empty[Int])).toDF("id", "w")
    assert(Curation.weightedSample(withNulls, "id", col("w")).count() == 1L)
    // determinism: same salt, same kept set
    assert(kept(1) == kept(1))
  }

  test("leaveLastOut: k most recent per entity test, ties split by id, short histories all-test") {
    val df = Seq(
      (1L, 10L, 100L), (1L, 11L, 200L), (1L, 12L, 300L), (1L, 13L, 300L),
      (2L, 20L, 50L),
      (3L, 30L, 10L), (3L, 31L, 20L)).toDF("user", "ev", "ts")
    val out = Curation.leaveLastOut(df, "user", "ts", "ev", k = 2)
      .collect().map(r => r.getAs[Long]("ev") -> r.getAs[String]("split")).toMap
    // user 1: ts 300 twice → ev 13 and 12 (id desc breaks the tie) test
    assert(out(13L) == "test" && out(12L) == "test")
    assert(out(10L) == "train" && out(11L) == "train")
    // user 2: single event → entirely test (no trainable past)
    assert(out(20L) == "test")
    // user 3: exactly k events → both test
    assert(out(30L) == "test" && out(31L) == "test")
    // within every entity, every train ts ≤ every test ts (no future leak)
    val rows = Curation.leaveLastOut(df, "user", "ts", "ev", k = 1)
      .collect().map(r => (r.getAs[Long]("user"), r.getAs[Long]("ts"),
        r.getAs[String]("split")))
    rows.groupBy(_._1).values.foreach { g =>
      val trainMax = g.filter(_._3 == "train").map(_._2)
      val testMin = g.filter(_._3 == "test").map(_._2)
      if (trainMax.nonEmpty && testMin.nonEmpty)
        assert(trainMax.max <= testMin.min, g.toSeq.toString)
    }
  }

  test("targetEncode: 20 random tables match local rational arithmetic exactly") {
    val rnd = new scala.util.Random(41)
    (1 to 20).foreach { trial =>
      val rows = (1 to 15 + rnd.nextInt(50)).map { _ =>
        (s"c${rnd.nextInt(5)}", rnd.nextInt(2).toLong)
      }
      val m = rnd.nextInt(20).toLong
      val got = Curation.targetEncode(rows.toDF("c", "y"), "c", "y",
          priorWeight = m, scale = 1000000L)
        .collect().map(r => r.getAs[String]("c") ->
          r.getAs[Long]("enc_fp")).toMap
      val nT = rows.size.toLong
      val tT = rows.map(_._2).sum
      val expect = rows.groupBy(_._1).map { case (c, rs) =>
        val n = rs.size.toLong
        val sy = rs.map(_._2).sum
        c -> (BigInt(sy) * nT + BigInt(m) * tT) * 1000000L / (BigInt(nT) * (n + m))
      }.map { case (c, v) => c -> v.toLong }
      assert(got == expect, s"trial $trial (m=$m)")
    }
  }

  test("targetEncode: exact smoothed means shrink toward the rational global mean") {
    // cats: a = {1,1,0} (mean 2/3), b = {0} (mean 0); T=2, N=4, mu=1/2
    val df = Seq(("a", 1), ("a", 1), ("a", 0), ("b", 0),
      (null.asInstanceOf[String], 1)).toDF("c", "y")
    val by = Curation.targetEncode(df, "c", "y", priorWeight = 2L,
      scale = 1000000L).collect().map(r => r.getAs[String]("c") -> r).toMap
    assert(by.size == 2, "null category excluded")
    // enc_a = (2 + 2·1/2)/(3+2) = 3/5; fp = (2·4 + 2·2)·1e6 DIV (4·5)
    assert(by("a").getAs[Long]("n") == 3L && by("a").getAs[Long]("sum_y") == 2L)
    assert(by("a").getAs[Long]("enc_fp") == 600000L, by("a").toString)
    assert(by("a").getAs[Double]("enc") == 0.6)
    // enc_b = (0 + 1)/(1+2) = 1/3 — pulled UP toward mu by the prior
    assert(by("b").getAs[Long]("enc_fp") == 333333L, by("b").toString)
    // priorWeight 0 = the raw category mean, no shrinkage
    val raw = Curation.targetEncode(df, "c", "y", priorWeight = 0L,
      scale = 1000000L).collect().map(r => r.getAs[String]("c") -> r).toMap
    assert(raw("a").getAs[Long]("enc_fp") == 666666L)
    assert(raw("b").getAs[Long]("enc_fp") == 0L)
  }
}
