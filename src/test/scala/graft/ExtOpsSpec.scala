package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ops.{AsOf, Graph, Sampling}
import graft.text.{TextFunctions => TF}

class ExtOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("AsOf.asofJoin picks latest quote at-or-before, null before first quote") {
    val quotes = Seq(
      ("eur", ts("2024-01-01 10:00:00"), 1.10),
      ("eur", ts("2024-01-01 12:00:00"), 1.20),
      ("jpy", ts("2024-01-01 11:00:00"), 150.0))
      .toDF("ccy", "qts", "rate")
    val trades = Seq(
      (1L, "eur", ts("2024-01-01 09:00:00")), // before any quote -> null
      (2L, "eur", ts("2024-01-01 10:00:00")), // exactly at quote -> 1.10
      (3L, "eur", ts("2024-01-01 11:59:59")), // between -> 1.10
      (4L, "eur", ts("2024-01-01 13:00:00")), // after both -> 1.20
      (5L, "jpy", ts("2024-01-01 12:00:00"))) // other key -> 150.0
      .toDF("trade_id", "ccy", "tts")
    val out = AsOf.asofJoin(trades, quotes, "ccy", "tts", "qts")
      .select("trade_id", "rate").as[(Long, Option[Double])].collect().toMap
    assert(out == Map(1L -> None, 2L -> Some(1.10), 3L -> Some(1.10),
      4L -> Some(1.20), 5L -> Some(150.0)))
  }

  test("Graph.connectedComponents labels transitive clusters with min id") {
    // components: {1,2,3,4} (chain), {10,11}, and a self-contained {20,21,22}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("src", "dst")
    val out = Graph.connectedComponents(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("Graph.connectedComponents handles a long chain within maxIter (log rounds)") {
    val n = 64
    val edges = (0L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val out = Graph.connectedComponents(edges, "src", "dst")
      .as[(Long, Long)].collect()
    assert(out.length == n.toInt + 1 && out.forall(_._2 == 0L))
  }

  test("Graph.connectedComponents returns empty labels for an empty edge set") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.connectedComponents(edges, "src", "dst").count() == 0)
  }

  test("Graph.asLongG: null/absent metric is 0, a non-Long metric fails named") {
    assert(Graph.asLongG("n", null) == 0L)
    assert(Graph.asLongG("n", java.lang.Long.valueOf(7L)) == 7L)
    val e = intercept[IllegalStateException](Graph.asLongG("n", Integer.valueOf(7)))
    assert(e.getMessage.contains("'n'") && e.getMessage.contains("java.lang.Integer"),
      e.getMessage)
  }

  test("AsOf.asofJoin with an empty right side yields all-null values") {
    val quotes = Seq.empty[(String, Timestamp, Double)].toDF("ccy", "qts", "rate")
    val trades = Seq((1L, "eur", ts("2024-01-01 09:00:00"))).toDF("trade_id", "ccy", "tts")
    val out = AsOf.asofJoin(trades, quotes, "ccy", "tts", "qts")
      .select("trade_id", "rate").as[(Long, Option[Double])].collect()
    assert(out.toSeq == Seq((1L, None)))
  }

  test("Sampling.stratified is a deterministic per-stratum filter") {
    val df = (0L until 1000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "stratum")
    val kept = Sampling.stratified(df, col("id"), col("stratum"), Map("en" -> 10), 50)
      .as[(Long, String)].collect()
    val en = kept.count(_._2 == "en"); val de = kept.count(_._2 == "de")
    // ~10% of 500 en, ~50% of 500 de; generous bounds, determinism is the contract
    assert(en > 20 && en < 90, s"en=$en")
    assert(de > 180 && de < 320, s"de=$de")
    val again = Sampling.stratified(df, col("id"), col("stratum"), Map("en" -> 10), 50)
      .as[(Long, String)].collect()
    assert(kept.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("chunkStarts/chunk produce overlapping fixed-size slices") {
    val df = Seq(Tuple1((1 to 90).map(_.toString).toArray)).toDF("toks")
    val chunks = df.select(explode(TF.chunkStarts(col("toks"), 40)).as("i"), col("toks"))
      .select(col("i"), TF.chunk(col("toks"), col("i"), 50).as("ch"))
      .as[(Int, Seq[String])].collect().sortBy(_._1)
    assert(chunks.map(_._1).toSeq == Seq(1, 41, 81))
    assert(chunks(0)._2.size == 50 && chunks(0)._2.head == "1")
    assert(chunks(1)._2.size == 50 && chunks(1)._2.head == "41")
    assert(chunks(2)._2.size == 10 && chunks(2)._2.head == "81")
  }

  test("redact replaces blocklist terms and counts matches") {
    val df = Seq((1L, "the customer saw the user table")).toDF("id", "text")
    val (red, n) = TF.redact(col("text"), "\\b(customer|user|table)\\b", "[X]")
    val (r, c) = df.select(red, n).as[(String, Int)].head()
    assert(r == "the [X] saw the [X] [X]" && c == 3)
  }

  test("FuzzyLink derives entropy-balanced segments that tile the suffix") {
    import graft.ops.FuzzyLink
    val master = Tables.customer(spark, sfDir)
    val segs = FuzzyLink.entropySegments(master, "c_name", 9, 3)
    assert(segs.length == 3)
    // contiguous tiling of 1..9
    assert(segs.head._1 == 1)
    assert(segs.sliding(2).forall { case Seq((s1, l1), (s2, _)) => s2 == s1 + l1 })
    assert(segs.map(_._2).sum == 9 && segs.forall(_._2 >= 1))
    // zero-padded ids: the low-entropy leading zeros must be lumped into a
    // wide first segment (equal 3-3-3 would put the whole table in one block)
    assert(segs.head._2 > 3, s"first segment too narrow for this key skew: $segs")
  }

  test("FuzzyLink.linkage equals the quadratic truth on sf0.001 customers") {
    import graft.ops.FuzzyLink
    val c = Tables.customer(spark, sfDir)
    val batch = c.filter(col("c_custkey") % 100 === 0)
    val master = c.filter(col("c_custkey") % 100 =!= 0)
    val blocked = FuzzyLink.linkage(batch, master, "c_custkey", "c_name", 9, 2)
      .select("key_a", "key_b", "dist").as[(Long, Long, Int)].collect().toSet
    val truth = batch.select(col("c_custkey").as("key_a"), col("c_name").as("name_a"))
      .crossJoin(master.select(col("c_custkey").as("key_b"), col("c_name").as("name_b")))
      .filter(length(col("name_a")) === length(col("name_b")))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 2)
      .select("key_a", "key_b", "dist").as[(Long, Long, Int)].collect().toSet
    assert(blocked == truth,
      s"missing=${(truth -- blocked).take(5)} extra=${(blocked -- truth).take(5)}")
    assert(truth.nonEmpty)
  }

  test("FuzzyLink catches equal-length insert+delete shifts (tiling alone misses them)") {
    import graft.ops.FuzzyLink
    // 'xabc' vs 'xbca': delete 'a' + insert 'a' at the end — lev 2, but the
    // shifted run disagrees with every 1-char tiling segment of suffix
    // 'abc'/'bca'; only the deletion-variant pass (common variant 'bc')
    // can block them together.
    val batch = Seq((1L, "xabc")).toDF("k", "nm")
    val master = Seq((10L, "xbca"), (11L, "zzzz")).toDF("k", "nm")
    val out = FuzzyLink.linkage(batch, master, "k", "nm", 3, 2)
      .select("key_a", "key_b", "dist").as[(Long, Long, Int)].collect().toSet
    assert(out == Set((1L, 10L, 2)), s"shift pair not linked: $out")
  }

  test("FuzzyLink block budget: over-cap blocks drop bounded, or fail with the named diagnosis") {
    import graft.ops.FuzzyLink
    // A 6-way cloned name: EVERY blocking key it produces is one hot block
    // (the degenerate-key regime the 100x derived corpus measures at
    // ~640M edges).
    val master = (10L to 15L).map(k => (k, "aaabbbccc")).toDF("k", "nm")
    val batch = Seq((1L, "aaabbbccc")).toDF("k", "nm")
    // Exhaustive and default-capped agree far below BlockCap…
    assert(FuzzyLink.linkage(batch, master, "k", "nm", 9, 2,
      maxBlock = None).count() == 6L)
    assert(FuzzyLink.linkage(batch, master, "k", "nm", 9, 2).count() == 6L)
    // …and a cap below the clone count drops the hot blocks entirely:
    // bounded candidates, not quadratic commitment.
    assert(FuzzyLink.linkage(batch, master, "k", "nm", 9, 2,
      maxBlock = Some(5)).count() == 0L)
    // Fail mode dies with the hot key in the message instead of dropping.
    val e = intercept[Throwable] {
      FuzzyLink.linkage(batch, master, "k", "nm", 9, 2,
        maxBlock = Some(5), failOnOverCap = true).count()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(msgs.contains("fuzzy_link") && msgs.contains("maxBlock=5"),
      s"named diagnosis missing: $msgs")
    // The cap must never fire at oracle SFs: sf0.001 linkage under the
    // default equals the exhaustive run (the quadratic-truth spec above
    // already runs the default path; this pins default == None there).
    val c = Tables.customer(spark, sfDir)
    val b = c.filter(col("c_custkey") % 100 === 0)
    val m = c.filter(col("c_custkey") % 100 =!= 0)
    val capped = FuzzyLink.linkage(b, m, "c_custkey", "c_name", 9, 2)
      .select("key_a", "key_b").as[(Long, Long)].collect().toSet
    val exhaustive = FuzzyLink.linkage(b, m, "c_custkey", "c_name", 9, 2,
      maxBlock = None).select("key_a", "key_b").as[(Long, Long)].collect().toSet
    assert(capped == exhaustive && exhaustive.nonEmpty)
  }

  test("Sketches: merged daily HLL states equal the one-pass sketch; bounded error") {
    import graft.ops.Sketches
    val ev = Tables.events(spark, sfDir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
    // Incremental path: per-day sketch states, then merged estimate.
    val daily = Sketches.sketchState(ev, Seq("day"), "user_id")
    val incremental = Sketches.unionEstimate(daily, Nil)
      .as[Long].head()
    // Full-rebuild path: one sketch over the whole corpus.
    val onePass = Sketches.unionEstimate(
      Sketches.sketchState(ev.withColumn("g", lit(1)), Seq("g"), "user_id"), Nil)
      .as[Long].head()
    // The merge algebra must be lossless: union-of-substates == one-pass.
    assert(incremental == onePass,
      s"sketch merge not lossless: incremental=$incremental onePass=$onePass")
    // And the estimate lands within the lgK=14 error envelope of the truth.
    val exact = ev.select(countDistinct(col("user_id"))).as[Long].head()
    assert(math.abs(incremental - exact).toDouble / exact < 0.05,
      s"estimate $incremental vs exact $exact")
  }

  test("ShardPack.assign equals the single-window prefix sum, across bucket boundaries") {
    import graft.ops.ShardPack
    // Irregular weights and sparse ids so bucket boundaries (size 4) fall
    // mid-shard and shards (budget 10) span buckets.
    val rows = Seq((0L, 3L), (1L, 7L), (3L, 1L), (4L, 9L), (7L, 2L),
      (8L, 8L), (9L, 4L), (12L, 6L), (15L, 5L), (16L, 1L))
    val df = rows.toDF("doc_id", "n_tokens")
    val got = ShardPack.assign(df, "doc_id", "n_tokens", budget = 10, bucketSize = 4)
      .select(col("doc_id"), col("shard_id")).as[(Long, Long)].collect().toMap
    // Brute-force truth: running total before each row, div budget.
    var cum = 0L
    val want = rows.sortBy(_._1).map { case (id, w) =>
      val s = cum / 10; cum += w; id -> s
    }.toMap
    assert(got == want, s"got $got want $want")
    // Shards must be contiguous in id order and non-decreasing.
    val ordered = rows.sortBy(_._1).map { case (id, _) => got(id) }
    assert(ordered == ordered.sorted)
  }

  test("SequencePack.manifest: every sequence exactly seqLen (last partial), " +
      "per-doc spans tile the doc, offsets tile the sequence (q113)") {
    import graft.ops.SequencePack
    // irregular weights, sparse ids, a zero-token doc (packs nowhere), a
    // doc longer than several sequences, bucket boundaries mid-sequence
    val rows = Seq((0L, 3L), (1L, 17L), (3L, 0L), (4L, 9L), (7L, 41L),
      (8L, 2L), (9L, 4L), (12L, 6L), (15L, 5L), (16L, 1L))
    val df = rows.toDF("doc_id", "n_tokens")
    val m = SequencePack.manifest(df, "doc_id", "n_tokens",
        seqLen = 10, bucketSize = 4)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val total = rows.map(_._2).sum // 88 tokens → seqs 0..8, last holds 8
    // per-sequence: len sums to exactly seqLen except the final partial
    val bySeq = m.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap
    val lastSeq = (total - 1) / 10
    (0L to lastSeq).foreach { s =>
      val want = if (s == lastSeq) total - s * 10 else 10L
      assert(bySeq(s) == want, s"seq $s holds ${bySeq(s)}, want $want")
    }
    // per-doc: spans tile the doc gaplessly from offset 0
    rows.filter(_._2 > 0).foreach { case (id, w) =>
      val spans = m.filter(_._2 == id).sortBy(_._3)
      assert(spans.map(_._5).sum == w, s"doc $id spans must sum to $w")
      assert(spans.head._3 == 0L)
      spans.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._5 == b._3, s"doc $id gap at $b")
        case _ => ()
      }
    }
    // zero-token doc packs nowhere
    assert(!m.exists(_._2 == 3L))
    // within a sequence, (seq_offset, len) spans tile [0, seqLen) in doc order
    m.groupBy(_._1).foreach { case (s, spans0) =>
      val spans = spans0.sortBy(_._4)
      assert(spans.head._4 == 0L, s"seq $s must start at offset 0")
      spans.sliding(2).foreach {
        case Array(a, b) => assert(a._4 + a._5 == b._4, s"seq $s gap at $b")
        case _ => ()
      }
    }
  }

  test("SequencePack.shuffled: seed-deterministic permutation, q113 tiling " +
      "invariants hold, adjacent-sequence correlation drops (q115)") {
    import graft.ops.SequencePack
    // clustered fixture: ids 0..49 are "source A" (crawl-adjacent pages),
    // 50..99 "source B" — in id order every adjacent doc pair is same-source
    val rows = (0L until 100L).map(id => (id, 7L))
    val df = rows.toDF("doc_id", "n_tokens")
    val m1 = SequencePack.shuffled(df, "doc_id", "n_tokens",
      seqLen = 25, seed = "s1").as[(Long, Long, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    val m1b = SequencePack.shuffled(df, "doc_id", "n_tokens",
      seqLen = 25, seed = "s1").as[(Long, Long, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(m1 == m1b, "same seed must replay bit-identically")
    // exactness: manifest equals the driver-side recompute in hash order
    val hs = df.select(col("doc_id"), graft.ops.Cdm.hash60(
        concat_ws("|", lit("s1"), col("doc_id").cast("string"))))
      .as[(Long, Long)].collect().toMap
    val ordered = rows.sortBy { case (id, _) => (hs(id), id) }
    var cum = 0L
    val want = ordered.flatMap { case (id, w) =>
      val gs = cum; cum += w
      (gs / 25 to (gs + w - 1) / 25).map { s =>
        (s, id, math.max(s * 25 - gs, 0L), math.max(gs - s * 25, 0L),
          math.min(gs + w, s * 25 + 25) - math.max(gs, s * 25))
      }
    }.sortBy(r => (r._1, r._2))
    assert(m1 == want, "shuffled manifest must equal the hash-order recompute")
    // q113 invariants under the permutation: sequences tile exactly
    val bySeq = m1.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap
    val lastSeq = (700L - 1) / 25
    (0L to lastSeq).foreach(s => assert(bySeq(s) == 25L))
    rows.foreach { case (id, w) =>
      assert(m1.filter(_._2 == id).map(_._5).sum == w)
    }
    // distribution sanity: adjacent docs in PACK order are no longer
    // id-adjacent — same-source adjacency falls from 0.99 to ~0.5
    def sameSourceRate(m: Seq[(Long, Long, Long, Long, Long)]): Double = {
      val packOrder = m.sortBy(r => (r._1, r._4)).map(_._2).distinct
      val pairs = packOrder.sliding(2).toSeq
      pairs.count { case Seq(a, b) => (a < 50) == (b < 50); case _ => false }
        .toDouble / pairs.size
    }
    val idOrder = SequencePack.manifest(df, "doc_id", "n_tokens", seqLen = 25)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(sameSourceRate(idOrder) > 0.95)
    assert(sameSourceRate(m1) < 0.8,
      s"shuffle must break source adjacency, got ${sameSourceRate(m1)}")
    // a different seed is a different permutation
    val m2 = SequencePack.shuffled(df, "doc_id", "n_tokens",
      seqLen = 25, seed = "s2").as[(Long, Long, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(m1 != m2, "different seeds must permute differently")
  }

  test("ShardPack rejects non-positive knobs") {
    import graft.ops.ShardPack
    val df = Seq((1L, 1L)).toDF("doc_id", "n_tokens")
    intercept[IllegalArgumentException](ShardPack.assign(df, "doc_id", "n_tokens", 0))
    intercept[IllegalArgumentException](ShardPack.assign(df, "doc_id", "n_tokens", 10, -1))
  }

  test("ShardPack rejects inputs colliding with its working/output columns") {
    // withColumn would silently REPLACE a same-named caller column (e.g. a
    // pre-existing shard_id from an earlier pass) and corrupt the result —
    // collisions must fail fast, not clobber.
    import graft.ops.ShardPack
    val withShard = Seq((1L, 1L, 0L)).toDF("doc_id", "n_tokens", "shard_id")
    val withBkt = Seq((1L, 1L, 0L)).toDF("doc_id", "n_tokens", "_bkt")
    val e = intercept[IllegalArgumentException](
      ShardPack.assign(withShard, "doc_id", "n_tokens", 10))
    assert(e.getMessage.contains("shard_id"))
    intercept[IllegalArgumentException](ShardPack.assign(withBkt, "doc_id", "n_tokens", 10))
  }

  test("Baskets.pairs caps an over-cap basket at C(maxBasket,2), keeping the smallest items") {
    // basket 1 is degenerate (100 items, cap 10): expansion must be C(10,2)
    // = 45 pairs over the 10 SMALLEST item ids (deterministic truncation),
    // never the quadratic 4950; basket 2 checks dedup + ordered pairs.
    val items = ((0 until 100).map(i => (1L, i.toLong)) ++
      Seq((2L, 5L), (2L, 3L), (2L, 3L), (2L, 8L))).toDF("basket", "item")
    val out = graft.ops.Baskets.pairs(items, "basket", "item", maxBasket = 10)
      .as[(Long, Long, Long)].collect()
    val b1 = out.filter(_._1 == 1L)
    assert(b1.length == 45, s"expected 45 capped pairs, got ${b1.length}")
    assert(b1.forall(p => p._2 < p._3 && p._3 <= 9L))
    val b2 = out.filter(_._1 == 2L).map(p => (p._2, p._3)).toSet
    assert(b2 == Set((3L, 5L), (3L, 8L), (5L, 8L)))
  }

  test("graft_pairs (SortedPairs) matches the HOF pair spelling — values AND order") {
    // The native codegen expression replaced the interpreted nested
    // transform in Baskets.pairsOfSets; the HOF spelling stays as the
    // pinned specification: i-major (i,j) i<j pairs, null elements pair
    // like values, empty/singleton arrays yield an empty pair array.
    def hof(c: org.apache.spark.sql.Column) =
      flatten(transform(c, (a, i) =>
        transform(slice(c, i + lit(2), size(c)),
          b => struct(a.as("item_a"), b.as("item_b")))))
    val longs = Seq(
      Seq[java.lang.Long](1L, 2L, 3L, 4L),
      Seq[java.lang.Long](7L),
      Seq[java.lang.Long](),
      Seq[java.lang.Long](5L, null, 9L)).toDF("xs")
    val strs = Seq(Seq("b", "c", "a"), Seq("x", "y")).toDF("xs")
    for (df <- Seq(longs, strs)) {
      val got = df.select(call_function("graft_pairs", col("xs")).as("p")).collect()
      val want = df.select(hof(col("xs")).as("p")).collect()
      assert(got.map(_.toString).toSeq == want.map(_.toString).toSeq,
        s"native vs HOF pair mismatch: ${got.toSeq} vs ${want.toSeq}")
    }
    // 256-element worst case (the maxBasket cap): C(256,2) pairs, in order
    val big = Seq((0L until 256L).toSeq).toDF("xs")
    val gotBig = big.select(call_function("graft_pairs", col("xs")).as("p"))
      .select(explode(col("p")).as("q")).select(col("q.item_a"), col("q.item_b"))
      .as[(Long, Long)].collect().toSeq
    assert(gotBig.length == 256 * 255 / 2)
    assert(gotBig.take(3) == Seq((0L, 1L), (0L, 2L), (0L, 3L)))
    assert(gotBig.last == ((254L, 255L)))
    assert(gotBig == gotBig.sorted, "pairs must be i-major ordered")
  }

  test("graft_pairs names an over-long array on both the interpreted and codegen paths") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, IntegerType}
    // 65,537 elements: C(n,2) = 2,147,516,416 overflows Int (the old
    // `n * (n - 1) / 2` went negative) and exceeds the max array length.
    val row = InternalRow(new GenericArrayData(Array.tabulate[Any](65537)(identity)))
    val expr = graft.functions.SortedPairs(
      BoundReference(0, ArrayType(IntegerType, containsNull = false), nullable = false))
    def named(run: => Any): Unit = {
      val e = intercept[IllegalArgumentException](run)
      assert(e.getMessage.startsWith("graft_pairs: a 65537-element array has 2147516416 pairs"),
        e.getMessage)
    }
    named(expr.eval(row))
    named(GenerateUnsafeProjection.generate(Seq(expr)).apply(row))
    assert(graft.functions.SortedPairs.pairCount(65536) == 65536L * 65535 / 2)
  }

  test("GapFill.dense densifies, zero-fills, LOCFs — and names the key on an over-span row") {
    val daily = Seq(
      (1L, java.sql.Date.valueOf("2024-03-01"), 5.0),
      (1L, java.sql.Date.valueOf("2024-03-04"), 7.0),
      (2L, java.sql.Date.valueOf("2024-03-02"), 1.0))
      .toDF("user_id", "day", "v")
    val out = graft.ops.GapFill.dense(daily, "user_id", "day", "v")
      .orderBy("user_id", "day")
      .as[(Long, java.sql.Date, Double, Option[Double])].collect().toSeq
    assert(out.map(r => (r._1, r._2.toString, r._3, r._4)) == Seq(
      (1L, "2024-03-01", 5.0, Some(5.0)),
      (1L, "2024-03-02", 0.0, Some(5.0)),
      (1L, "2024-03-03", 0.0, Some(5.0)),
      (1L, "2024-03-04", 7.0, Some(7.0)),
      (2L, "2024-03-02", 1.0, Some(1.0))))
    // One poisoned epoch-zero date must become a NAMED diagnosis carrying
    // the key, not a ~20k-row calendar or a deep sequence() stack trace.
    val poisoned = daily.union(Seq(
      (3L, java.sql.Date.valueOf("1970-01-01"), 9.9),
      (3L, java.sql.Date.valueOf("2024-03-01"), 1.0)).toDF("user_id", "day", "v"))
    val e = intercept[Exception] {
      graft.ops.GapFill.dense(poisoned, "user_id", "day", "v").count()
    }
    val msg = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .take(10).map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(msg.contains("gap_fill") && msg.contains("key 3"),
      s"expected a named gap_fill error carrying key 3, got: $msg")
    // clean keys under a tighter bound still pass
    assert(graft.ops.GapFill.dense(daily, "user_id", "day", "v",
      maxSpanDays = 3).count() == 5)
    intercept[IllegalArgumentException](
      graft.ops.GapFill.dense(daily, "user_id", "day", "v", maxSpanDays = 0))
  }

  test("Baskets.pairs leaves under-cap baskets exact and rejects maxBasket < 2") {
    val items = Seq((1L, 7L), (1L, 2L), (1L, 9L)).toDF("basket", "item")
    val out = graft.ops.Baskets.pairs(items, "basket", "item", maxBasket = 64)
      .as[(Long, Long, Long)].collect().map(p => (p._2, p._3)).toSet
    assert(out == Set((2L, 7L), (2L, 9L), (7L, 9L)))
    intercept[IllegalArgumentException](
      graft.ops.Baskets.pairs(items, "basket", "item", maxBasket = 1))
    // colliding caller columns fail fast instead of silently aliasing
    val withClash = Seq((1L, 2L, 0L)).toDF("basket", "item", "item_a")
    val e = intercept[IllegalArgumentException](
      graft.ops.Baskets.pairs(withClash, "basket", "item"))
    assert(e.getMessage.contains("item_a"))
    // ... including when the reserved name IS basketCol/itemCol — the old
    // guard exempted them, letting pairs(basketCol="item_a") emit two
    // item_a columns.
    val asBasket = Seq((1L, 2L)).toDF("item_a", "item")
    val e2 = intercept[IllegalArgumentException](
      graft.ops.Baskets.pairs(asBasket, "item_a", "item"))
    assert(e2.getMessage.contains("item_a"))
    val asItem = Seq((1L, 2L)).toDF("basket", "_ps")
    intercept[IllegalArgumentException](
      graft.ops.Baskets.pairs(asItem, "basket", "_ps"))
  }

  test("sourceOverlap derives its basket cap from the catalog — exact past any fixed cap") {
    // 40 sources (> the old fixed cap of 32) all sharing one 8-token gram:
    // a fixed cap would truncate the gram's source set to the 32 smallest
    // sources and undercount n_shared; the derived cap keeps every pair.
    val shared = "a b c d e f g h"
    val docs = (1 to 40).map(i => (f"src$i%02d", s"$shared uniq$i"))
      .toDF("source", "text")
    val out = graft.queries.TextQueries.sourceOverlap(docs)
    // every C(40,2) pair shares exactly the one common gram
    assert(out.count() == 40L * 39 / 2)
    assert(out.filter(col("n_shared") =!= 1L).count() == 0)
  }

  test("sourceOverlap fails fast on a NULL source (mixture-family discipline)") {
    // A NULL source would count into nSources but vanish inside
    // collect_set's basket — a silently incomplete overlap matrix.
    val docs = Seq(
      (Option("a"), "a b c d e f g h x"),
      (Option("b"), "a b c d e f g h y"),
      (Option.empty[String], "a b c d e f g h z")).toDF("source", "text")
    val e = intercept[Exception](
      graft.queries.TextQueries.sourceOverlap(docs).collect())
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(c => String.valueOf(c.getMessage)).mkString(" | ")
    assert(msgs(e).contains("source_overlap: source is NULL"), msgs(e).take(300))
  }
}
