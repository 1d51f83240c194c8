package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Distributed byte-pair-encoding TOKENIZER TRAINING — the missing
  * half of the token-counting story (TextAnalysis counts with a fixed
  * BPE-ish regex; training data pipelines also need to LEARN the
  * vocabulary from the corpus — Sennrich et al. 2016, the public BPE
  * algorithm every mainstream LLM tokenizer descends from).
  *
  * The 100 TB shape is the distinct-word collapse: pair statistics
  * depend only on (distinct word, frequency), so ONE corpus-sized
  * aggregation reduces terabytes of text to a vocabulary table of at
  * most a few million rows, and every training iteration then runs on
  * that compact, cached table — an adjacent-pair count (map-side
  * combined, 32 partitions) plus a 1-row argmax collect per merge.
  * Iteration count is the vocabulary budget (tens of thousands in
  * production); per-iteration cost never touches the corpus again.
  * (A production trainer would delta-update pair counts between
  * merges — the Sennrich optimization; the recount here keeps each
  * iteration stateless and partitioning-independent, and the table it
  * recounts is vocabulary-sized, not corpus-sized.)
  *
  * Merge application is a pure catalyst fold (`aggregate` over the
  * symbol array — left-greedy, non-overlapping, exactly the reference
  * semantics), so the hot path stays inside whole-stage codegen: no
  * UDFs anywhere.
  *
  * Determinism: pair counts are exact Long sums; the argmax
  * tie-breaks lexicographically on (left, right) — the result is
  * bit-identical under any partitioning, which BpeSpec pins against a
  * single-threaded reference implementation. */
object Bpe {

  /** Lowercased whitespace words with occurrence counts — the corpus
    * → vocabulary collapse (the ONLY corpus-sized pass). */
  def wordWeights(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(lower(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** One left-greedy application of merge (l, r) over a symbol-array
    * column: fold the array, emitting `l+r` wherever `l` is
    * immediately followed by `r` (non-overlapping, leftmost-first —
    * reference BPE semantics). Pure built-in HOFs. The pair arrives
    * as COLUMNS (not literals) so every iteration produces the
    * identical generated source and the janino compile — which
    * otherwise dominates per-merge cost — is paid exactly once
    * (whole-stage codegen caches on source text). */
  private def applyMerge(syms: org.apache.spark.sql.Column,
                         l: org.apache.spark.sql.Column,
                         r: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val init = struct(
      array().cast("array<string>").as("out"),
      lit(null).cast("string").as("prev"))
    val step = (acc: org.apache.spark.sql.Column,
                x: org.apache.spark.sql.Column) =>
      when(acc.getField("prev").isNull,
          struct(acc.getField("out").as("out"), x.as("prev")))
        .when(acc.getField("prev") === l && x === r,
          struct(concat(acc.getField("out"), array(concat(l, r))).as("out"),
            lit(null).cast("string").as("prev")))
        .otherwise(
          struct(concat(acc.getField("out"),
              array(acc.getField("prev"))).as("out"), x.as("prev")))
    val fin = (acc: org.apache.spark.sql.Column) =>
      when(acc.getField("prev").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("prev"))))
    fin(aggregate(syms, init, step))
  }

  /** Train `numMerges` BPE merges over the corpus. Returns the merge
    * rules in rank order. `maxWordChars` is the production scale
    * guard every real trainer carries: the per-word fold is
    * O(length²) per merge, so one pathological megabyte-long
    * "word" (minified code, base64 blobs — no whitespace) would
    * dominate the whole iteration; longer words are excluded from
    * TRAINING (statistics loss is negligible — they are by
    * definition near-unique) while encoding still handles any
    * length. */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            maxWordChars: Int = 512): Seq[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be >= 1: $numMerges")
    require(maxWordChars >= 2, s"maxWordChars must be >= 2: $maxWordChars")
    // localCheckpoint (not cache) at EVERY step: each merge nests
    // another fold expression, and 20+ levels of generated aggregate
    // code in one plan blow past codegen limits and driver heap —
    // checkpointing materializes the vocabulary AND truncates the
    // plan, keeping every iteration's tree one fold deep.
    // LAZY local checkpoints throughout: each is materialized by the
    // NEXT iteration's argmax job (which computes every partition, so
    // checkpoint finalization launches no catch-up job) — one Spark
    // action per merge instead of two, halving the per-iteration
    // job-dispatch + planning overhead that dominates the trainer at
    // any corpus size. The parent checkpoint is unpersisted only
    // AFTER the job that materialized its child (a lazily
    // checkpointed child still reads the parent's blocks).
    var vocab = wordWeights(docs, textCol)
      .filter(length(col("w")) <= maxWordChars)
      .select(split(col("w"), "").as("syms"), col("cnt"))
      .repartition(32)
      .localCheckpoint(false)
    // Size iteration parallelism to the VOCABULARY, not the corpus:
    // per-merge jobs run dozens of times, so task-launch overhead on
    // a near-empty 32-way table would dominate training. ~50k words
    // per partition; narrow coalesce, lineage stays checkpointed.
    val nWords = vocab.count()
    val parts = math.max(1L, math.min(32L, nWords / 50000L + 1)).toInt
    // The train loop plans with AQE OFF and the shuffle partition count
    // pinned to the MEASURED vocabulary size (the probe discipline —
    // SnapshotTable.probe): every iteration's frames are
    // vocabulary-bounded and explicitly right-sized here, so AQE's
    // runtime re-optimization changes nothing — but each of the
    // numMerges actions would pay withFinalPlanUpdate re-planning on
    // the driver (the top gap-profile frame in the trainers; at a
    // production 32k-merge vocabulary that is minutes of pure driver
    // time). Scale-adaptive by construction: `parts` derives from the
    // measured word count, not a constant. Every loop frame derives
    // from this rebound one, so the caller's session keeps its confs.
    vocab = graft.sources.SnapshotTable.loopFrame(
      if (parts < 32) vocab.coalesce(parts) else vocab, Some(parts))
    val loop = vocab.sparkSession
    val merges = Seq.newBuilder[(String, String)]
    var prev: DataFrame = null
    var i = 0
    var done = false
    while (i < numMerges && !done) {
      // Adjacent pairs weighted by word frequency; exact Long counts;
      // deterministic lexicographic tie-break.
      // Guard single-symbol words: sequence(0, -1) would COUNT DOWN
      // (step inference), so pairs exist only where size >= 2; the
      // null arm explodes to zero rows.
      val best = vocab
        .select(explode(when(size(col("syms")) >= 2, expr(
          "transform(sequence(0, size(syms) - 2), " +
            "j -> struct(syms[j] AS l, syms[j + 1] AS r))"))).as("p"),
          col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      // this job materialized `vocab`; its parent's blocks are now free
      if (prev != null) { prev.unpersist(false); prev = null }
      if (best.isEmpty) done = true // every word fully merged
      else {
        val l = best.head.getString(0); val r = best.head.getString(1)
        merges += l -> r
        // The pair rides a broadcast 1-row join (NOT literals): the
        // plan — and its generated code — is identical every
        // iteration, so codegen compiles once for the whole run.
        val pair = loop.createDataFrame(
          java.util.Collections.singletonList(
            org.apache.spark.sql.Row(l, r)),
          StructType(Seq(StructField("__l", StringType, nullable = false),
            StructField("__r", StringType, nullable = false))))
        val next = vocab.crossJoin(broadcast(pair))
          .select(applyMerge(col("syms"), col("__l"), col("__r")).as("syms"),
            col("cnt"))
          .localCheckpoint(false) // lazy: the next argmax materializes it
        prev = vocab
        vocab = next
        i += 1
      }
    }
    // INVARIANT: the last `vocab` is a lazy localCheckpoint that was
    // never materialized, and its parent's blocks are freed here — it
    // must never be acted on (an action would hit missing checkpoint
    // blocks over truncated lineage). Only `merges` leaves this scope.
    if (prev != null) prev.unpersist(false)
    vocab.unpersist()
    merges.result()
  }

  /** One left-greedy pass applying a whole BATCH of merges: emit
    * `prev+x` wherever (prev, x) is one of `pairs` (an
    * array<struct<l,r>> column). For MUTUALLY NON-INTERACTING pairs
    * (no shared symbols, no concat collisions — what
    * [[trainBatched]]'s admission guarantees) one combined pass is
    * exactly equivalent to applying each merge sequentially: no
    * position can match two batch pairs, and no merge's output can
    * create or destroy another batch pair's match. */
  private def applyMergeBatch(syms: org.apache.spark.sql.Column,
                              pairs: org.apache.spark.sql.Column
                             ): org.apache.spark.sql.Column = {
    val init = struct(
      array().cast("array<string>").as("out"),
      lit(null).cast("string").as("prev"))
    val step = (acc: org.apache.spark.sql.Column,
                x: org.apache.spark.sql.Column) =>
      when(acc.getField("prev").isNull,
          struct(acc.getField("out").as("out"), x.as("prev")))
        .when(array_contains(pairs,
            struct(acc.getField("prev").as("l"), x.as("r"))),
          struct(concat(acc.getField("out"),
              array(concat(acc.getField("prev"), x))).as("out"),
            lit(null).cast("string").as("prev")))
        .otherwise(
          struct(concat(acc.getField("out"),
              array(acc.getField("prev"))).as("out"), x.as("prev")))
    val fin = (acc: org.apache.spark.sql.Column) =>
      when(acc.getField("prev").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("prev"))))
    fin(aggregate(syms, init, step))
  }

  /** BATCHED BPE training — bit-identical to [[train]] (pinned in
    * BpeSpec at a 200-merge budget) but applying MANY merges per
    * Spark job round-trip, the fix for the sequential trainer's real
    * scale limit: per-merge cost is flat in corpus size, but a 32k-
    * merge production vocabulary means 32k sequential driver
    * round-trips. The standard parallel-BPE observation: pairs that
    * share no symbol have partition-independent counts, so a SORTED
    * PREFIX of the pair-count table can merge in one pass — provided
    * no earlier merge's OUTPUT could outrank a later batch member.
    *
    * Admission per iteration (driver-side over two bounded collects):
    * walk candidates in (count desc, l, r) order and admit while
    *   1. the pair shares no symbol with any admitted pair — and its
    *      CONCAT collides with none of their symbols or concats (a
    *      collision would let one merge's output perturb another's
    *      count);
    *   2. every already-admitted pair's THREAT BOUND stays strictly
    *      below the candidate's count. The bound: any pair a merge
    *      (x,y) creates contains the new symbol `xy`, and each such
    *      occurrence embeds a corpus triple with (x,y) adjacent — so
    *      max(triple count over triples containing (x,y) at positions
    *      1-2 or 2-3) bounds every created pair's count. Strict
    *      inequality also covers ties (a created pair of equal count
    *      could win the lexicographic tie-break).
    * The batch STOPS at the first failure — a maximal SAFE prefix, so
    * the admitted sequence is provably the exact sequence sequential
    * BPE would pick. Worst case (adversarially chained symbols) the
    * batch degrades to 1 and only the threat job is extra; zipfian
    * text yields double-digit batches and the wall-clock becomes
    * sub-linear in merges.
    *
    * Cost shape per ITERATION (not per merge): one vocabulary-sized
    * pair count, one vocabulary-sized triple count filtered to the
    * top-M candidates, one batch-apply pass — three jobs amortized
    * over every merge admitted. */
  def trainBatched(docs: DataFrame, textCol: String, numMerges: Int,
                   maxBatch: Int = 64,
                   maxWordChars: Int = 512): Seq[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be >= 1: $numMerges")
    require(maxBatch >= 1, s"maxBatch must be >= 1: $maxBatch")
    // Lazy checkpoints, same discipline as [[train]]: the next
    // iteration's pair-count job materializes the batch apply — one
    // action per iteration instead of two.
    var vocab = wordWeights(docs, textCol)
      .filter(length(col("w")) <= maxWordChars)
      .select(split(col("w"), "").as("syms"), col("cnt"))
      .repartition(32)
      .localCheckpoint(false)
    val nWords = vocab.count()
    val parts = math.max(1L, math.min(32L, nWords / 50000L + 1)).toInt
    // AQE off + measured shuffle partitioning for the loop — same
    // rationale as [[train]] (vocabulary-bounded frames, explicitly
    // right-sized; per-iteration AQE re-planning is pure driver cost).
    vocab = graft.sources.SnapshotTable.loopFrame(
      if (parts < 32) vocab.coalesce(parts) else vocab, Some(parts))
    val loop = vocab.sparkSession
    val pairSchema = StructType(Seq(
      StructField("l", StringType, nullable = false),
      StructField("r", StringType, nullable = false)))
    // Superset of symbols present in the vocabulary (initial chars +
    // every admitted concat; disappearance is never tracked —
    // conservative). Needed because a merge whose concat ALREADY
    // exists as a symbol boosts preexisting pairs involving it by up
    // to the threat bound ON TOP of their current count, which the
    // threat check alone cannot cover — such candidates end the
    // batch instead. One bounded collect (|alphabet| rows) at init.
    val symbolsSuper = collection.mutable.Set.empty[String]
    symbolsSuper ++= vocab.select(explode(col("syms")).as("s"))
      .distinct().collect().map(_.getString(0))
    val merges = Seq.newBuilder[(String, String)]
    var prev: DataFrame = null
    var total = 0
    var iters = 0
    var done = false
    while (total < numMerges && !done) {
      iters += 1
      // m caps ADMISSION, but topM stays CONSTANT across iterations:
      // a varying limit changes the plan each round and forces a
      // fresh janino compile per iteration — the exact overhead the
      // broadcast-pair discipline exists to avoid. Overshoot in the
      // final round is truncated driver-side (a prefix of a safe
      // batch is still the exact sequential sequence).
      val m = maxBatch
      val topM = math.min(maxBatch * 4, 128)
      val top = vocab
        .select(explode(when(size(col("syms")) >= 2, expr(
          "transform(sequence(0, size(syms) - 2), " +
            "j -> struct(syms[j] AS l, syms[j + 1] AS r))"))).as("p"),
          col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(topM).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      // this job materialized `vocab`; its parent's blocks are now free
      if (prev != null) { prev.unpersist(false); prev = null }
      if (top.isEmpty) done = true
      else {
        // PASS 1 — symbol-only admission (no Spark job): the maximal
        // prefix that is symbol-disjoint and concat-collision-free.
        val preUsed = collection.mutable.Set.empty[String]
        var preK = 0
        var preStop = false
        while (!preStop && preK < top.length && preK < m) {
          val (l, r, _) = top(preK)
          val cat = l + r
          if (preK > 0 && (preUsed(l) || preUsed(r) || preUsed(cat) ||
              symbolsSuper(cat)))
            preStop = true
          else {
            preUsed += l; preUsed += r; preUsed += cat
            preK += 1
            if (symbolsSuper(cat)) preStop = true
          }
        }
        val shortlist = top.take(preK)
        // PASS 2 — threat bounds derived from the pair table ALREADY
        // collected, zero extra jobs: every pair a merge (x,y)
        // creates embeds a pre-merge adjacency with x on the right or
        // y on the left — (t,xy) occurrences were (t,x) adjacencies,
        // (xy,u) were (y,u), (xy,xy) were (y,x) — so
        //   threat(x,y) <= max over known pairs {count(·,x), count(y,·)}
        // with every pair BELOW the collected head bounded by the
        // head's last count (the list is sorted). Coarser than exact
        // triple counts (slightly smaller batches) but it keeps the
        // per-iteration cost at exactly the sequential trainer's two
        // jobs — the whole point of batching.
        val tailCap = if (top.length < topM) Long.MinValue else top.last._3
        def threat(x: String, y: String): Long = {
          var t = tailCap
          var j = 0
          while (j < top.length) {
            val (l, r, n) = top(j)
            if (r == x || l == y) t = math.max(t, n)
            j += 1
          }
          t
        }
        // FINAL admission over the shortlist with threat checks.
        val admitted = Seq.newBuilder[(String, String)]
        var maxThreat = Long.MinValue
        var k = 0
        var stop = false
        while (!stop && k < shortlist.length) {
          val (l, r, n) = shortlist(k)
          if (k > 0 && maxThreat >= n) stop = true
          else {
            admitted += l -> r
            maxThreat = math.max(maxThreat, threat(l, r))
            k += 1
          }
        }
        val batch = admitted.result().take(numMerges - total)
        merges ++= batch
        total += batch.length
        symbolsSuper ++= batch.map { case (l, r) => l + r }
        // One combined left-greedy pass applies the whole batch; the
        // pairs ride as DATA (a broadcast 1-row array), so generated
        // code is identical across iterations and janino compiles
        // once.
        val pairArr = loop.createDataFrame(
          java.util.Collections.singletonList(org.apache.spark.sql.Row(
            batch.map { case (l, r) =>
              org.apache.spark.sql.Row(l, r) })),
          StructType(Seq(StructField("__pairs",
            org.apache.spark.sql.types.ArrayType(pairSchema, containsNull = false),
            nullable = false))))
        val next = vocab.crossJoin(broadcast(pairArr))
          .select(applyMergeBatch(col("syms"), col("__pairs")).as("syms"),
            col("cnt"))
          .localCheckpoint(false) // lazy: the next pair count materializes it
        prev = vocab
        vocab = next
      }
    }
    // INVARIANT (same as train): the last `vocab` is an unmaterialized
    // lazy localCheckpoint whose parent's blocks are freed here — it
    // must never be acted on. Only `merges` leaves this scope.
    if (prev != null) prev.unpersist(false)
    vocab.unpersist()
    lastIterations = iters
    merges.result()
  }

  /** Iteration count of the most recent [[trainBatched]] run — a
    * coarse observability hook (specs/benchmarks assert batching
    * actually batches; not part of the result contract). */
  @volatile var lastIterations: Int = 0

  /** Tokenize a CORPUS with trained merges — the production step
    * after [[train]]/[[trainBatched]]: one map-only scan emits each
    * document's full token stream (`array<string>`) through the
    * native [[graft.plans.BpeEncodeTokens]] expression (merges ride
    * once per task as a referenced object; zero shuffle, zero state,
    * so the cost of tokenizing 100 TB is exactly the cost of reading
    * it). Lowercasing and `\s+` word-splitting match [[wordWeights]]
    * (the training-side tokenization), and the per-word semantics are
    * bit-identical to [[encode]], the driver reference (pinned in
    * BpeSpec). */
  def encodeCorpus(text: org.apache.spark.sql.Column,
                   merges: Seq[(String, String)]): org.apache.spark.sql.Column =
    graft.plans.GraftFunctions.bpeEncodeTokens(lower(text), merges)

  /** Tokenize one word with trained merges, rank order — the
    * driver-side reference encoder (specs + spot checks; bulk corpus
    * tokenization applies the same pass column-wise via
    * [[encodeCorpus]]). */
  def encode(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var syms = word.map(_.toString)
    merges.foreach { case (l, r) =>
      val out = Seq.newBuilder[String]
      var prev: String = null
      syms.foreach { x =>
        if (prev == null) prev = x
        else if (prev == l && x == r) { out += (l + r); prev = null }
        else { out += prev; prev = x }
      }
      if (prev != null) out += prev
      syms = out.result().toIndexedSeq
    }
    syms
  }
}
