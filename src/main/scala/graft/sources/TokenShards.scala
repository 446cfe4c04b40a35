package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.{Bpe, TextFunctions => TF}

/** Loader-ready token shards (i22): the pipeline's ACTUAL end product.
  * q92/q112 encode tokens, q113 emits the packing manifest — this
  * materializes the fixed-length sequences as the binary artifact a
  * pretraining job mmaps, and reads them back as a DataFrame so the
  * written bytes are verifiable against the manifest assembly (q116).
  *
  * Shard format (version 1, all little-endian, fixed-width — a loader
  * seeks sequence k of a file at `32 + k·seqLen·4` with no index):
  * {{{
  *   bytes 0..7   magic "GRFTTOK1" (ASCII)
  *   bytes 8..11  int32 version = 1
  *   bytes 12..15 int32 seq_len (tokens per sequence)
  *   bytes 16..23 int64 first_seq_id (global id of the file's first row)
  *   bytes 24..27 int32 n_seqs (sequences in THIS file)
  *   bytes 28..31 int32 dtype code (0 = int32 LE, 2 = uint16 LE)
  *   bytes 32..   n_seqs × seq_len × dtype-width token ids
  * }}}
  * Sequence k of a file seeks at `32 + k·seqLen·width`. dtype `u2` is the
  * GPT-2 `.bin` convention (vocab < 65536 → half the bytes per token);
  * an id past 65535 fails the u2 write NAMED instead of wrapping.
  * Only FULL sequences are written — the final partial sequence of a
  * corpus is less than one sequence of data and every GPT-style loader
  * drops or re-buffers it; [[fullSequences]] is the explicit filter so
  * the drop is a visible choice, not writer magic.
  *
  * Scale shape: one hash repartition by shard id (whole shards land on
  * one task), in-task sort by seq_id, executor-side Hadoop-FS writes
  * with the [[Warc.writeWarcGz]] commit discipline — attempt-unique
  * file + rename (speculation-safe), temp dir + atomic swap (a crash
  * mid-write leaves the previous shard set intact), `.inprogress`
  * sweep before publish. A shard buffers in memory before its one
  * write: `seqsPerShard · seqLen · 4` bytes, guarded ≤ 256 MB.
  *
  * Reference anchor: the gold layer exists to WRITE consumable
  * artifacts (5_gold/fact_transaction.py:1-40 lands the fact table a
  * consumer queries) — this is that layer for the training-data block.
  */
object TokenShards {

  val Magic: Array[Byte] = "GRFTTOK1".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  val Version = 1
  val HeaderLen = 32

  /** Header dtype codes (bytes 28..31 — 0 was "reserved" before the knob
    * existed, so int32 keeps code 0 and every pre-knob shard reads
    * unchanged): `i4` = int32 LE, `u2` = uint16 LE — the GPT-2 `.bin`
    * convention for vocabs under 65536, HALF the bytes per token (real
    * money at 100 TB of shards). A u2 write fails NAMED on the first id
    * past 65535 instead of silently wrapping.
    */
  private val DtypeCodes = Map("i4" -> 0, "u2" -> 2)
  private def dtypeWidth(code: Int): Int = code match {
    case 0 => 4
    case 2 => 2
    case other => sys.error(s"unknown token dtype code $other")
  }
  // strict: an unknown header code must FAIL every reader of the field
  // (mapping it to "i4" would let a corrupted header pass validation)
  private def dtypeName(code: Int): String = code match {
    case 0 => "i4"
    case 2 => "u2"
    case other => sys.error(s"unknown token dtype code $other")
  }

  /** Per-doc BPE subword stream: (idCol, subs array<string>) — the ONE
    * encode pass [[vocab]] and [[docTokens]] both read (BPE is the
    * corpus-rate cost here; encoding twice would double it — cache or
    * [[graft.Graft.registerCache]] this frame when both consume it).
    */
  def docSubwords(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[String] = Bpe.FixedMerges): DataFrame =
    // widen: the BPE encode is the corpus-rate cost and runs before the
    // first exchange — a one-row-group corpus scan would serialize it on
    // one core (no-op at scale; Sources.widen checks the width). r22
    // re-A/B, driver-shaped subset: q116 2.01 s widened vs 3.35 s
    // without; q113/q115/q118/q120 each 0.1-0.2 s better widened.
    graft.sources.Sources.widen(docs, col(idCol))
      .select(col(idCol).cast("long").as(idCol),
        flatten(transform(TF.tokens(col(textCol)),
          t => Bpe.encode(t, merges))).as("subs"))

  /** Dense token vocabulary over a [[docSubwords]] frame:
    * (token_id, subword, n_uses), ids 0..V−1 by (n_uses desc, subword
    * asc) — the rank-by-frequency convention every deployed tokenizer
    * uses, and fully oracle-mirrorable (row_number over the same agg).
    * The ranking window is GLOBAL but runs over the vocab-sized
    * aggregate (base symbols + ≤ merge-count fused pairs), never the
    * corpus — the q109/q74 vocab-scale discipline.
    */
  def vocabOf(subwords: DataFrame): DataFrame =
    subwords.select(explode(col("subs")).as("subword"))
      .groupBy(col("subword")).agg(count(lit(1)).as("n_uses"))
      .withColumn("token_id",
        (row_number().over(Window.orderBy(col("n_uses").desc, col("subword").asc))
          - 1).cast("int"))
      .select(col("token_id"), col("subword"), col("n_uses"))

  /** [[vocabOf]] over a fresh encode — the one-shot convenience face. */
  def vocab(docs: DataFrame, textCol: String,
      merges: Seq[String] = Bpe.FixedMerges): DataFrame =
    vocabOf(docSubwords(docs, "doc_id", textCol, merges))

  /** Bounded driver-side subword → id map (the q95/q112 bounded-collect
    * discipline): fails NAMED past `maxVocab` instead of silently
    * OOM-ing the driver on a pathological corpus.
    */
  def tokenIdMap(vocabDf: DataFrame, maxVocab: Int = 1 << 20): Map[String, Int] = {
    val rows = vocabDf.select(col("subword"), col("token_id"))
      .limit(maxVocab + 1).collect()
    require(rows.length <= maxVocab,
      s"vocabulary exceeds maxVocab=$maxVocab — raise the cap or prune the corpus")
    rows.iterator.map(r => r.getString(0) -> r.getInt(1)).toMap
  }

  /** Per-doc token-id arrays under a broadcast vocab literal:
    * (idCol, tokens array<int>, n_tokens). The subword→id lookup is a
    * codegen'd `element_at` on a constant map — no UDF, no join, one
    * scan. A subword missing from `ids` yields a NULL element;
    * [[writeShards]] fails NAMED on it (a silent 0 would corrupt
    * training data), so vocab/corpus drift is loud.
    */
  def docTokens(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[String], ids: Map[String, Int]): DataFrame =
    docTokensOf(docSubwords(docs, idCol, textCol, merges), idCol, ids)

  /** [[docTokens]] over an already-encoded [[docSubwords]] frame. */
  def docTokensOf(subwords: DataFrame, idCol: String,
      ids: Map[String, Int]): DataFrame = {
    val m = typedlit(ids)
    subwords.select(col(idCol),
        transform(col("subs"), s => element_at(m, s)).as("tokens"))
      .withColumn("n_tokens", size(col("tokens")).cast("long"))
  }

  /** Append the document separator (q120): `tokens ++ [eosId]` per doc —
    * the GPT-style convention every production loader applies BEFORE
    * concat-and-chunk, so the model sees an explicit boundary token and
    * generation can learn to stop. `eosId` is by convention the first id
    * past the dense vocab (`tokenIdMap(...).size`) — the "special tokens
    * after the base vocab" layout deployed tokenizers use. An EMPTY
    * document still emits its EOS (a boundary is information, and with
    * the separator every doc has weight ≥ 1, so none drop out of the
    * pack); q118's boundary stats and the attention-mask breaks stay
    * derivable from the manifest unchanged.
    */
  def withEos(docToks: DataFrame, eosId: Int, idCol: String = "doc_id"): DataFrame =
    docToks.select(col(idCol),
        concat(col("tokens"), array(lit(eosId))).as("tokens"))
      .withColumn("n_tokens", size(col("tokens")).cast("long"))

  /** Assemble sequences from a q113/q115 manifest + per-doc token
    * arrays: (seq_id, tokens). Each manifest row slices `len` tokens of
    * its doc at `doc_offset` and the per-sequence pieces concatenate in
    * `seq_offset` order — the exact loader-assembly contract the
    * manifest documents. One equi-join + one groupBy: scan-shaped.
    */
  def assemble(docToks: DataFrame, manifest: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    manifest.join(docToks.select(col(idCol), col("tokens")), Seq(idCol))
      .select(col("seq_id"), col("seq_offset"),
        slice(col("tokens"), (col("doc_offset") + 1).cast("int"),
          col("len").cast("int")).as("_piece"))
      .groupBy(col("seq_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("seq_offset"), col("_piece")))),
        s => s.getField("_piece"))).as("tokens"))

  /** The full-sequence filter — the tail-drop made explicit. */
  def fullSequences(seqs: DataFrame, seqLen: Int): DataFrame =
    seqs.filter(size(col("tokens")) === seqLen)

  /** Concat-and-chunk per-doc token arrays (`idCol`, tokens, n_tokens)
    * into their FULL sequences (seq_id, tokens): the q113 manifest over
    * `n_tokens`, [[assemble]], then [[fullSequences]] — the loader step
    * q116 and q120 share.
    */
  def packFull(docToks: DataFrame, seqLen: Int, bucketSize: Long = 1L << 20,
      idCol: String = "doc_id"): DataFrame = {
    val manifest = graft.ops.SequencePack.manifest(
      docToks.select(col(idCol), col("n_tokens")), idCol, "n_tokens",
      seqLen = seqLen, bucketSize = bucketSize)
    fullSequences(assemble(docToks, manifest, idCol), seqLen)
  }

  /** The loader's EPOCH PLAN (q121): for each training epoch, a seeded
    * deterministic permutation of the full sequences, each mapped to its
    * PHYSICAL address in the [[writeShards]] layout — (epoch, position,
    * seq_id, shard, byte_offset). Between epochs every production loader
    * re-shuffles sequence order (replaying one order overfits its
    * adjacency); precomputing the permutation as a plan keeps the reader
    * a bit-replayable mmap seeker with zero runtime RNG, and the address
    * arithmetic is the format's own (`shard = seq_id div seqsPerShard`,
    * `byte_offset = 32 + (seq_id mod seqsPerShard)·seqLen·width`) so the
    * plan is valid against any shard set written with the same knobs.
    *
    * Scale shape: per epoch, the q115 discipline — order by
    * `hash60(seed ‖ epoch ‖ seq_id)` with ties on the id,
    * positions via [[graft.ops.ShardPack.globalStartsBy]] over the HASH
    * SPACE (unit weights → the 0-based rank), never a global
    * single-partition sort; epochs union (each epoch is one independent
    * linear pass over seq ids — sequence-rate, not token-rate).
    */
  def epochPlan(fullSeqIds: DataFrame, epochs: Int, seed: String,
      seqLen: Int, seqsPerShard: Int, dtype: String = "i4",
      hashBucketWidth: Long = 1L << 40): DataFrame = {
    require(epochs >= 1, s"epochs must be >= 1, got $epochs")
    require(seqLen > 0 && seqsPerShard > 0, "seqLen and seqsPerShard must be positive")
    val width = dtypeWidth(DtypeCodes.getOrElse(dtype,
      throw new IllegalArgumentException(s"unknown token dtype '$dtype'")))
    val plans = (0 until epochs).map { e =>
      val w = fullSeqIds.select(col("seq_id"))
        .withColumn("_ord", graft.ops.Cdm.hash60(concat_ws("|",
          lit(seed), lit(e.toLong).cast("string"), col("seq_id").cast("string"))))
        .withColumn("_one", lit(1L))
      graft.ops.ShardPack.globalStartsBy(w, "_ord", "seq_id", "_one",
          "_pos", hashBucketWidth)
        .select(lit(e.toLong).as("epoch"), col("_pos").as("position"),
          col("seq_id"),
          call_function("div", col("seq_id"), lit(seqsPerShard.toLong)).as("shard"),
          (lit(HeaderLen.toLong) + (col("seq_id") % seqsPerShard)
            * seqLen * width).as("byte_offset"))
    }
    plans.reduce(_.unionByName(_))
  }

  /** Write (seq_id, tokens array<int>) rows — every row EXACTLY `seqLen`
    * tokens (pass through [[fullSequences]] first; a short/long/null row
    * fails NAMED) — as fixed-width binary shards under `path`, shard
    * `s` = seq ids `[s·seqsPerShard, (s+1)·seqsPerShard)` in file
    * `shard-<s>.tok`. Within a shard, seq ids must be CONSECUTIVE —
    * a gap means a lost sequence and fails the write (a training corpus
    * silently shifted by one sequence is unfindable downstream).
    */
  def writeShards(seqs: DataFrame, path: String, seqLen: Int,
      seqsPerShard: Int = 1024, dtype: String = "i4"): Unit = {
    val spark = seqs.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hconf)
    Sinks.atomicSwap(fs, path) { tmp =>
      fs.mkdirs(tmp)
      writeShardFiles(seqs, tmp.toString, seqLen, seqsPerShard, dtype)
      // a validation failure throws HERE, before the swap — the previous
      // shard set stays live
    }
  }

  /** The per-file stats [[writeShardFiles]] returns for the GLOBAL gap
    * check: within-shard gaps fail in-task, but a sequence lost exactly
    * on a shard boundary (or at the head/tail of the corpus) is invisible
    * to any single task — only the collected ranges show it.
    */
  private[graft] final case class ShardStat(shard: Long, firstSeq: Long, nSeqs: Int)

  /** The executor-side shard-file writer behind [[writeShards]], exposed
    * for the STREAMING sink (s32 writes each micro-batch's complete
    * sequences into that batch's own directory — replay = directory
    * overwrite — so the atomic-swap wrapper above doesn't fit there).
    * Writes `dirStr/shard-<s>.tok` files, sweeps the attempt-unique
    * `.inprogress` temps, and VALIDATES global sequence contiguity over
    * the collected per-shard ranges (shard-count-rate metadata): any
    * lost sequence — mid-shard, on a shard boundary, head or tail —
    * fails the write NAMED before the caller publishes.
    */
  private[graft] def writeShardFiles(seqs: DataFrame, dirStr: String,
      seqLen: Int, seqsPerShard: Int, dtype: String = "i4"): Array[ShardStat] = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    require(seqsPerShard > 0, s"seqsPerShard must be positive, got $seqsPerShard")
    val dtypeCode = DtypeCodes.getOrElse(dtype,
      throw new IllegalArgumentException(
        s"unknown token dtype '$dtype' — one of ${DtypeCodes.keys.toSeq.sorted.mkString(", ")}"))
    val width = dtypeWidth(dtypeCode)
    require(seqsPerShard.toLong * seqLen * width <= (1L << 28),
      s"shard buffer ${seqsPerShard.toLong * seqLen * width} bytes exceeds 256 MB — lower seqsPerShard")
    val spark = seqs.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val confKV: Array[(String, String)] = {
      val it = hconf.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
      buf.toArray
    }
    val confBc = spark.sparkContext.broadcast(confKV)
    val (sl, sps) = (seqLen, seqsPerShard)
    val tmpStr = dirStr
    val part = seqs
      .select(col("seq_id").cast("long"), col("tokens"))
      .withColumn("_shard", call_function("div", col("seq_id"), lit(sps.toLong)))
      .repartition(col("_shard"))
      .sortWithinPartitions(col("seq_id"))
    val stats = part.rdd.mapPartitions { rows =>
        val statsBuf = scala.collection.mutable.ArrayBuffer.empty[ShardStat]
        if (rows.hasNext) {
          val conf = new org.apache.hadoop.conf.Configuration(false)
          confBc.value.foreach { case (k, v) => conf.set(k, v) }
          val tc = org.apache.spark.TaskContext.get()
          val pfs = new org.apache.hadoop.fs.Path(tmpStr).getFileSystem(conf)
          var shard = -1L
          var firstSeq = 0L
          var prevSeq = 0L
          var nSeqs = 0
          var body: java.io.ByteArrayOutputStream = null
          def flush(): Unit = if (nSeqs > 0) {
            statsBuf += ShardStat(shard, firstSeq, nSeqs)
            val hdr = java.nio.ByteBuffer.allocate(HeaderLen)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            hdr.put(Magic); hdr.putInt(Version); hdr.putInt(sl)
            hdr.putLong(firstSeq); hdr.putInt(nSeqs); hdr.putInt(dtypeCode)
            // attempt-unique write + rename: the writeWarcGz commit
            // discipline — speculative twins never interleave bytes
            val work = new org.apache.hadoop.fs.Path(
              f"$tmpStr/.shard-$shard%06d-attempt${tc.taskAttemptId()}.inprogress")
            val dst = new org.apache.hadoop.fs.Path(f"$tmpStr/shard-$shard%06d.tok")
            val out = pfs.create(work, true)
            try { out.write(hdr.array()); body.writeTo(out) } finally out.close()
            if (!pfs.rename(work, dst)) {
              if (pfs.exists(dst)) pfs.delete(work, false)
              else sys.error(s"shard commit failed: $work -> $dst")
            }
          }
          rows.foreach { r =>
            val seq = r.getLong(0)
            val s = seq / sps
            if (s != shard) {
              flush()
              shard = s; firstSeq = seq; nSeqs = 0
              body = new java.io.ByteArrayOutputStream(sps * sl * width)
            } else if (seq != prevSeq + 1)
              sys.error(s"sequence gap in shard $shard: $prevSeq -> $seq — a lost sequence would silently shift the corpus")
            val toks = r.getSeq[Any](1)
            if (toks == null || toks.length != sl)
              sys.error(s"sequence $seq holds ${if (toks == null) "null" else toks.length.toString} tokens, want exactly $sl — filter through fullSequences first")
            val bb = java.nio.ByteBuffer.allocate(sl * width)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            var k = 0
            while (k < sl) {
              toks(k) match {
                case i: java.lang.Integer =>
                  if (width == 2) {
                    val t = i.intValue()
                    if (t < 0 || t > 0xFFFF) sys.error(
                      s"sequence $seq token $k = $t does not fit dtype u2 " +
                        "(0..65535) — the vocab outgrew uint16; write dtype i4")
                    bb.putShort(t.toShort)
                  } else bb.putInt(i.intValue())
                case null => sys.error(
                  s"sequence $seq token $k is NULL — the vocab does not cover the corpus (docTokens drift)")
                case other => sys.error(s"sequence $seq token $k is ${other.getClass.getName}, want int")
              }
              k += 1
            }
            body.write(bb.array())
            nSeqs += 1
            prevSeq = seq
          }
          flush()
        }
        statsBuf.iterator
      }.collect()
    // sweep killed/failed attempts' partials so only committed shards
    // remain (the writeWarcGz discipline)
    val dirFs = new org.apache.hadoop.fs.Path(dirStr).getFileSystem(hconf)
    dirFs.listStatus(new org.apache.hadoop.fs.Path(dirStr)).foreach { st =>
      if (st.getPath.getName.endsWith(".inprogress"))
        dirFs.delete(st.getPath, false)
    }
    // GLOBAL contiguity: the written ranges must tile [min, max] with no
    // hole — catches the boundary/head/tail losses the in-task check
    // cannot see (ranges are per-shard, so this is metadata-rate)
    val sorted = stats.sortBy(_.firstSeq)
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        if (a.firstSeq + a.nSeqs != b.firstSeq) sys.error(
          s"sequence gap between shards ${a.shard} and ${b.shard}: " +
            s"${a.firstSeq + a.nSeqs - 1} -> ${b.firstSeq} — a lost sequence would silently shift the corpus")
      case _ => ()
    }
    // the set-level MANIFEST (`_SHARDS`): which shard files exist and
    // what they hold — the reader validates against it, because a LOST
    // FILE otherwise just shrinks the corpus silently (the same
    // unfindable-downstream class as a sequence gap). Doubles as the
    // dataset card a loader reads before mmapping.
    if (sorted.nonEmpty) {
      val body = new StringBuilder()
      body.append("{\"format\":\"GRFTTOK1\",\"dtype\":\"").append(dtypeName(dtypeCode))
        .append("\",\"seq_len\":").append(seqLen)
        .append(",\"n_shards\":").append(sorted.length)
        .append(",\"n_seqs\":").append(sorted.map(_.nSeqs.toLong).sum)
        .append(",\"first_seq\":").append(sorted.head.firstSeq)
        .append(",\"last_seq\":").append(sorted.last.firstSeq + sorted.last.nSeqs - 1)
        .append(",\"shards\":[")
      body.append(sorted.map(st =>
        "{\"shard\":" + st.shard + ",\"first_seq\":" + st.firstSeq +
          ",\"n_seqs\":" + st.nSeqs + "}").mkString(","))
      body.append("]}")
      val mf = dirFs.create(new org.apache.hadoop.fs.Path(dirStr, ManifestName), true)
      try mf.write(body.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally mf.close()
    }
    sorted
  }

  /** Shard-set manifest file name (no `.tok` suffix — the glob skips it). */
  val ManifestName = "_SHARDS"

  /** Validate one shard directory against its `_SHARDS` manifest:
    *  - `.tok` files present WITHOUT a manifest fail (the sink's crash
    *    window between shard writes and the manifest write must not be
    *    served as a silently-partial batch; a dir with neither is a
    *    legitimately empty batch and passes);
    *  - every listed shard file must exist, extra `.tok` files are
    *    equally fatal (they would inject sequences the writer never
    *    committed);
    *  - each file's LENGTH and 32-byte HEADER (seq_len, first_seq,
    *    n_seqs) must match its manifest entry — a same-named stale file
    *    from an older snapshot parses as internally consistent, so the
    *    name check alone would still let the corpus silently shift.
    * Cost: one list + one short header read per shard file, driver-side
    * metadata-rate.
    */
  def validateShardDir(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Unit = {
    val mf = new org.apache.hadoop.fs.Path(dir, ManifestName)
    val files = fs.listStatus(dir).filter(_.getPath.getName.endsWith(".tok"))
    if (!fs.exists(mf)) {
      if (files.nonEmpty) sys.error(
        s"token shards at $dir lack a $ManifestName manifest — an " +
          "interrupted write (or a lost manifest) must not be served as a " +
          "silently-partial corpus")
      return
    }
    val text = {
      val in = fs.open(mf)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    val seqLen = "\"seq_len\":(\\d+)".r.findFirstMatchIn(text)
      .map(_.group(1).toInt)
      .getOrElse(sys.error(s"$ManifestName at $dir lacks seq_len"))
    // pre-knob manifests carry no dtype: they are int32 by construction
    val dtype = "\"dtype\":\"([a-z0-9]+)\"".r.findFirstMatchIn(text)
      .map(_.group(1)).getOrElse("i4")
    val width = dtypeWidth(DtypeCodes.getOrElse(dtype,
      sys.error(s"$ManifestName at $dir declares unknown dtype '$dtype'")))
    val entryRe =
      "\\{\"shard\":(\\d+),\"first_seq\":(\\d+),\"n_seqs\":(\\d+)\\}".r
    val want = entryRe.findAllMatchIn(text)
      .map(m => f"shard-${m.group(1).toLong}%06d.tok" ->
        (m.group(2).toLong, m.group(3).toInt)).toMap
    val got = files.map(st => st.getPath.getName -> st).toMap
    if (got.keySet != want.keySet) sys.error(
      s"token shards at $dir disagree with $ManifestName: " +
        s"missing ${(want.keySet -- got.keySet).toSeq.sorted.mkString(",")}; " +
        s"unexpected ${(got.keySet -- want.keySet).toSeq.sorted.mkString(",")} — " +
        "a lost or injected shard file silently corrupts the corpus")
    want.foreach { case (name, (firstSeq, nSeqs)) =>
      val st = got(name)
      val wantLen = HeaderLen + nSeqs.toLong * seqLen * width
      if (st.getLen != wantLen) sys.error(
        s"token shard $dir/$name is ${st.getLen} bytes, manifest says $wantLen — " +
          "a stale or truncated shard file silently shifts the corpus")
      val hdr = new Array[Byte](HeaderLen)
      val in = fs.open(st.getPath)
      try in.readFully(0L, hdr) finally in.close()
      val bb = java.nio.ByteBuffer.wrap(hdr).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.position(12)
      val hSeqLen = bb.getInt
      val hFirst = bb.getLong
      val hN = bb.getInt
      val hDtype = dtypeName(bb.getInt)
      if (hSeqLen != seqLen || hFirst != firstSeq || hN != nSeqs || hDtype != dtype)
        sys.error(
          s"token shard $dir/$name header (seq_len=$hSeqLen, first_seq=$hFirst, " +
            s"n_seqs=$hN, dtype=$hDtype) disagrees with $ManifestName (seq_len=$seqLen, " +
            s"first_seq=$firstSeq, n_seqs=$nSeqs, dtype=$dtype) — a same-named stale shard " +
            "file silently shifts the corpus")
    }
  }

  /** Read a [[writeShards]] layout back as (seq_id, tokens array<int>) —
    * the verification face: its output must equal the manifest assembly
    * exactly (q116's oracle-checked contract). Malformed files (bad
    * magic/version, body length disagreeing with the header) fail NAMED.
    */
  def readShards(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // completeness gate BEFORE the lazy parse: a lost shard file must
    // fail named here, not shrink the corpus silently
    if (fs.isDirectory(p)) validateShardDir(fs, p)
    parseShardFiles(spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.tok").load(path))
  }

  /** Parse a `binaryFile`-shaped frame of shard files (s32 reads its
    * per-batch shard tree through this same format reader).
    */
  private[graft] def parseShardFiles(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (file, bytes) =>
        def fail(msg: String): Nothing =
          throw new IllegalStateException(s"token shard $file: $msg")
        if (bytes.length < HeaderLen) fail(s"truncated header (${bytes.length} bytes)")
        val bb = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val magic = new Array[Byte](8); bb.get(magic)
        if (!java.util.Arrays.equals(magic, Magic)) fail("bad magic")
        val version = bb.getInt
        if (version != Version) fail(s"unsupported version $version")
        val sl = bb.getInt
        val firstSeq = bb.getLong
        val nSeqs = bb.getInt
        val width = try dtypeWidth(bb.getInt) catch {
          case e: RuntimeException => fail(e.getMessage)
        }
        if (sl <= 0 || nSeqs < 0) fail(s"bad header: seq_len=$sl n_seqs=$nSeqs")
        if (bytes.length.toLong != HeaderLen + nSeqs.toLong * sl * width)
          fail(s"body length ${bytes.length - HeaderLen} != n_seqs $nSeqs x seq_len $sl x $width")
        (0 until nSeqs).iterator.map { k =>
          val toks = new Array[Int](sl)
          var j = 0
          while (j < sl) {
            val off = HeaderLen + (k.toLong * sl + j).toInt * width
            toks(j) = if (width == 2) bb.getShort(off) & 0xFFFF else bb.getInt(off)
            j += 1
          }
          (firstSeq + k, toks)
        }
      })
      .toDF("seq_id", "tokens")
  }
}
