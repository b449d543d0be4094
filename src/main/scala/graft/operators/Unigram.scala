package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

/** Unigram language-model tokenizer TRAINING (Kudo 2018, "Subword
  * Regularization" — the SentencePiece unigram model): the OTHER
  * canonical subword trainer beside BPE ([[Bpe]]), learned by EM over
  * a candidate-piece lattice instead of greedy merges.
  *
  * Hard-EM formulation (deterministic, exact-integer replayable —
  * the variant whose complete-data likelihood is provably
  * non-decreasing per iteration, spec-pinned):
  *  - SEED: every substring of length ≤ maxPieceLen of the distinct
  *    word vocabulary, weighted by word frequency, every occurrence
  *    position counted;
  *  - E-step: Viterbi-best segmentation of each distinct word under
  *    the current piece log-probabilities (micro units, the q74/q100
  *    rounded-ln discipline; ties → smallest start per end position —
  *    [[graft.functions.ViterbiKernel]]);
  *  - M-step: piece counts = Viterbi usage × word frequency;
  *    single-character pieces that fall to zero usage are retained at
  *    count 1 (the character-coverage fallback, so every word stays
  *    segmentable — stated convention, oracle replays it);
  *  - PRUNE (between iterations): keep the whole alphabet plus the
  *    top `vocabSize − |alphabet|` multi-character pieces by
  *    (count desc, piece asc) — the Kudo shrink step with a
  *    deterministic tiebreak.
  *
  * Scale contract — the same separation as [[Bpe]]: the corpus is
  * scanned ONCE for the word-frequency table; every EM iteration is
  * VOCABULARY-bounded (edges ≈ Σ|word|·maxPieceLen over DISTINCT
  * words), so iterations cost the same at 1 GB and 100 TB. The
  * E-step is ONE exchange: positions × piece join (broadcast when the
  * piece table is model-sized), per-word collect_list, the native DP
  * kernel — no per-position iterative relaxation joins. Serving
  * ([[segmentWords]]) is the same single-exchange shape.
  */
object Unigram {

  private val edgeType = ArrayType(StructType(Seq(
    StructField("i", IntegerType, nullable = false),
    StructField("l", IntegerType, nullable = false),
    StructField("lp_micro", LongType, nullable = false))),
    containsNull = false)

  private def bestPathCol(len: Column, edges: Column): Column =
    ColumnBridge.column(StaticInvoke(
      graft.functions.ViterbiKernel.getClass,
      ArrayType(LongType, containsNull = false), "bestPath",
      Seq(ColumnBridge.expression(len.cast("int")),
        ColumnBridge.expression(edges)),
      inputTypes = Seq(IntegerType, edgeType),
      propagateNull = true, returnNullable = true))

  /** Seed candidate pieces: all substrings of length 1..maxPieceLen of
    * the distinct vocabulary, count = Σ word_freq over every
    * occurrence position. `(piece, cnt)`. */
  def seedPieces(wf: DataFrame, maxPieceLen: Int): DataFrame =
    wf.select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("freq"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen),
            length(col("word")) - col("i") + 1))).as("l"))
      .select(col("word").substr(col("i"), col("l")).as("piece"),
        col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))

  /** Piece log-probabilities in exact micro units:
    * `lp_micro = round(ln(cnt / Σcnt), 6) · 10⁶` (DECIMAL-exact after
    * the rounding — the only float is inside the rounded ln, where
    * both engines' libm agree far inside 6 decimals). */
  def pieceLogProbs(pieces: DataFrame): DataFrame = {
    val tot = pieces.agg(sum(col("cnt")).as("tot"))
    pieces.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        (round(log(col("cnt") / col("tot")), 6).cast("decimal(20,6)")
          * 1000000).cast("long").as("lp_micro"))
  }

  /** Viterbi-best segmentation of every distinct word under `piecesLp`
    * `(piece, lp_micro)`: `(word, freq, seq, piece)`, seq 1-based
    * left-to-right. One exchange: position explode × piece join,
    * per-word edge fold, native DP kernel. */
  def segmentWords(wf: DataFrame, piecesLp: DataFrame,
      maxPieceLen: Int): DataFrame = {
    val edges = wf.select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("freq"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen),
            length(col("word")) - col("i") + 1))).as("l"))
      .withColumn("piece", col("word").substr(col("i"), col("l")))
      .join(piecesLp.select(col("piece"), col("lp_micro")), "piece")
    val packed = edges.groupBy(col("word"), col("freq"))
      .agg(collect_list(struct(col("i").cast("int").as("i"),
        col("l").cast("int").as("l"),
        col("lp_micro"))).as("es"))
      .withColumn("path", bestPathCol(length(col("word")), col("es")))
    packed.select(col("word"), col("freq"),
        posexplode(col("path")).as(Seq("p0", "p")))
      .select(col("word"), col("freq"),
        (col("p0") + 1).cast("long").as("seq"),
        col("word").substr(shiftright(col("p"), 8).cast("int"),
          expr("CAST(p & 255 AS INT)")).as("piece"))
  }

  /** One hard-EM step: re-estimate piece counts from the Viterbi
    * segmentation, with the character-coverage fallback (alphabet
    * pieces never vanish — zero-usage single chars keep count 1). */
  def emStep(wf: DataFrame, piecesLp: DataFrame,
      maxPieceLen: Int): DataFrame = {
    val used = segmentWords(wf, piecesLp, maxPieceLen)
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
    val alphabet = wf.select(col("word"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word").substr(col("i"), lit(1)).as("piece"))
      .distinct()
    used.unionAll(
      alphabet.join(used, Seq("piece"), "left_anti")
        .select(col("piece"), lit(1L).as("cnt")))
  }

  /** The Kudo shrink step: keep the whole alphabet plus the top
    * `vocabSize − |alphabet|` multi-char pieces by (cnt desc, piece
    * asc). Deterministic; model-sized window. */
  def prunePieces(pieces: DataFrame, vocabSize: Int): DataFrame = {
    val multi = pieces.where(length(col("piece")) > 1)
    val single = pieces.where(length(col("piece")) === 1)
    val nSingle = single.agg(count(lit(1)).as("n_single"))
    val w = Window.orderBy(col("cnt").desc, col("piece"))
    single.unionAll(
      multi.crossJoin(broadcast(nSingle))
        .withColumn("_r", row_number().over(w))
        .where(col("_r") <= lit(vocabSize) - col("n_single"))
        .select(col("piece"), col("cnt")))
  }

  /** Train: seed → EM → prune → EM; returns the final
    * `(piece, cnt, lp_micro)` vocabulary. Each stage is
    * localCheckpoint'd (the Lloyd/GD bounded-iteration discipline —
    * flat lineage, model-sized frames). */
  def train(wf0: DataFrame, maxPieceLen: Int, vocabSize: Int,
      emIters: Int = 2): DataFrame = {
    require(emIters >= 1)
    val wf = wf0.localCheckpoint()
    var pieces = seedPieces(wf, maxPieceLen).localCheckpoint()
    var it = 0
    while (it < emIters) {
      pieces = emStep(wf, pieceLogProbs(pieces), maxPieceLen)
        .localCheckpoint()
      if (it == 0) pieces = prunePieces(pieces, vocabSize)
        .localCheckpoint()
      it += 1
    }
    pieceLogProbs(pieces)
  }

  /** Train with the GRADUAL Kudo shrink (the reference algorithm
    * prunes a fraction per round rather than once): per ladder target
    * `emItersPerRound` EM steps then a prune to that target, then one
    * final EM — `trainLadder(wf, 4, Seq(60), 1)` is exactly
    * [[train]](wf, 4, 60, 2) (spec-pinned), while a descending ladder
    * (e.g. `Seq(100, 60)`) lets mid-frequency pieces survive the first
    * cut and re-compete, Kudo's stated reason for shrinking gradually.
    * The ladder is CALLER-EXPLICIT (not derived from the data) so runs
    * are deterministic and oracle-replayable; [[geometricLadder]]
    * derives a production ladder from a seed estimate. Every round is
    * vocabulary-bounded and localCheckpoint'd (flat lineage), so a
    * deep ladder costs rounds × the flat per-iteration price
    * (PLANS.md round 13 measured training flat, 1.07 → 0.80 s, across
    * 16× corpus growth).
    */
  def trainLadder(wf0: DataFrame, maxPieceLen: Int,
      vocabLadder: Seq[Int], emItersPerRound: Int = 1): DataFrame = {
    require(vocabLadder.nonEmpty && emItersPerRound >= 1)
    require(vocabLadder.zip(vocabLadder.tail).forall(t => t._1 > t._2),
      "vocabLadder must be strictly descending")
    val wf = wf0.localCheckpoint()
    var pieces = seedPieces(wf, maxPieceLen).localCheckpoint()
    vocabLadder.foreach { target =>
      var it = 0
      while (it < emItersPerRound) {
        pieces = emStep(wf, pieceLogProbs(pieces), maxPieceLen)
          .localCheckpoint()
        it += 1
      }
      pieces = prunePieces(pieces, target).localCheckpoint()
    }
    pieces = emStep(wf, pieceLogProbs(pieces), maxPieceLen)
      .localCheckpoint()
    pieceLogProbs(pieces)
  }

  /** Geometric shrink schedule from an estimated seed size down to
    * `target`, keeping `keepFrac` of the multi-char vocabulary per
    * round — the production way to pick [[trainLadder]]'s targets
    * (run it on the seed COUNT, not the seed frame, so the ladder
    * stays a plan-time constant). */
  def geometricLadder(seedSize: Long, target: Int,
      keepFrac: Double = 0.75): Seq[Int] = {
    require(keepFrac > 0 && keepFrac < 1 && target >= 1)
    val steps = Iterator.iterate(seedSize.toDouble)(_ * keepFrac)
      .drop(1).takeWhile(_ > target).map(_.toInt).toSeq
    (steps :+ target).distinct
  }

  /** SERVING over a raw text column — the tokenizer applied to
    * documents, not just the distinct vocabulary: tokenize
    * ([[TextOps.wordRows]] semantics), segment each DISTINCT word once
    * under the trained model (one vocabulary-bounded Viterbi pass),
    * then join the per-word pieces back onto the token stream. Output:
    * `(keep…, word, seq, piece)` — one row per piece occurrence, in
    * path order within each word occurrence. `broadcastVocab` hints
    * the (corpus-vocabulary × pieces)-sized segmentation frame for
    * broadcast — right while the corpus vocabulary is model-like in
    * size; at 100 TB-scale vocabularies drop the hint and let AQE
    * shuffle-join on `word`.
    */
  def segmentText(docs: DataFrame, textCol: String,
      piecesLp: DataFrame, maxPieceLen: Int,
      keep: Seq[String] = Seq.empty,
      broadcastVocab: Boolean = true): DataFrame = {
    val words = TextOps.wordRows(docs, textCol, keep)
    val vocab = words.select(col("word")).distinct()
      .withColumn("freq", lit(1L))
    val seg0 = segmentWords(vocab, piecesLp, maxPieceLen)
      .select(col("word"), col("seq"), col("piece"))
    val seg = if (broadcastVocab) broadcast(seg0) else seg0
    words.join(seg, "word")
  }

  /** Corpus Viterbi log-likelihood under a trained model, in micro
    * units — the EM-monotonicity witness the spec pins. */
  def corpusLogLikelihood(wf: DataFrame, piecesLp: DataFrame,
      maxPieceLen: Int): DataFrame = {
    segmentWords(wf, piecesLp, maxPieceLen)
      .join(piecesLp.select(col("piece"), col("lp_micro")), "piece")
      .agg(sum(col("lp_micro") * col("freq")).as("ll_micro"))
  }
}
