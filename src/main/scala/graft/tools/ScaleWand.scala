package graft.tools

import graft.core.Sessions
import graft.operators.Retrieval
import org.apache.spark.sql.functions._

/** Scale experiment: exhaustive vs max-score-pruned BM25 top-k as the
  * corpus grows — the measurement behind q301's pruned contract.
  * `runMain graft.tools.ScaleWand [sizes] [vocab]` (default sizes
  * 20000,80000,320000; vocab 256).
  *
  * Corpus: Zipf-like selectivity — word `w` of the vocabulary appears
  * in doc `i` iff `i % (w+1) == 0`, so word 0 posts every document and
  * word w posts n/(w+1) documents (the inverted-index reality WAND
  * exists for: a few corpus-sized stopword lists, a long tail of rare
  * terms). Queries mix one rare term with common ones — the max-score
  * sweet spot, where θ comes from the rare term's postings and the
  * common terms turn non-essential.
  *
  * Reported per size: survivor fraction (survivor docs / matched docs
  * — the share of the (query, doc) aggregation the pruned plan pays)
  * and warm-min wall time of both arms (3 runs, first discarded, cache
  * cleared outside the window; noop-sink actions so Catalyst cannot
  * prune the projection).
  */
object ScaleWand {
  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("20000,80000,320000")
      .split(",").map(_.trim.toInt).toSeq
    val vocab = args.lift(1).map(_.toInt).getOrElse(256)
    val spark = Sessions.local().getOrCreate()

    // two batches A/B'd separately — max-score's payoff is
    // selectivity-dependent and a mixed batch hides it behind the
    // worst query's shuffle:
    //  - selective (the WAND sweet spot, and the common retrieval
    //    case): every query anchors on a rare term, so θ clears the
    //    common terms' suffix and survivors ≈ the rare posting lists;
    //  - adversarial (all-stopword queries): survivors ≈ half the
    //    corpus — pruning cannot help, only its overhead shows.
    val selective = Seq(
      1 -> s"w${vocab - 6} w0 w1 w2",   // rare + 3 stopwords
      2 -> s"w${vocab - 10} w3 w0",     // rare + 2 stopwords
      3 -> s"w${vocab / 2} w1 w5")      // mid + common
    val adversarial = Seq(3 -> "w1 w2 w4")
    val reps = 3
    def time(label: String)(f: => Unit): Unit = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        f
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      println(f"[scalewand] $label%-44s ${ts.tail.min}%8.2f s warm-min")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    sizes.foreach { n =>
      val docs = spark.range(n.toLong).select(col("id").as("doc_id"),
        array_join(filter(transform(sequence(lit(0), lit(vocab - 1)),
          w => when(pmod(col("id"), w + 1) === 0,
            concat(lit("w"), w.cast("string")))),
          x => x.isNotNull), " ").as("text")).localCheckpoint()
      println(s"[scalewand] ---- corpus: ${docs.count()} docs, " +
        s"vocab $vocab ----")
      val tf = Retrieval.termFrequencies(docs, "doc_id", "text")
      // the deployment shape: build the impact index ONCE (charged
      // here, visibly), A/B the query paths on the shared artifact
      val t0 = System.nanoTime()
      val index = Retrieval.bm25Index(docs, "doc_id", "text",
        tf = Some(tf)).localCheckpoint()
      println(f"[scalewand] index build ${(System.nanoTime() - t0) / 1e9}%8.2f s " +
        f"(${index.count()}%,d postings)")
      val idxDir = java.nio.file.Files
        .createTempDirectory("scalewand_idx").toString
      val t1 = System.nanoTime()
      Retrieval.writeBm25Index(index, idxDir, wordBuckets = 64)
      println(f"[scalewand] index write ${(System.nanoTime() - t1) / 1e9}%8.2f s " +
        s"(64 word buckets)")

      Seq("selective" -> selective, "adversarial" -> adversarial)
        .foreach { case (kind, queries) =>
          // survivor fraction at k=10 (one-off diagnostic, not timed)
          val qt = spark.createDataFrame(queries.flatMap { case (q, t) =>
            t.split(" ").distinct.map(w => (q.toLong, w))
          }).toDF("query_id", "word")
          val contribs = index.join(broadcast(qt), "word")
          val nMatched = contribs.select("query_id", "doc_id")
            .distinct().count()
          val nSurv = Retrieval.survivorDocs(contribs, 10).count()
          println(f"[scalewand] [$kind] survivors $nSurv%,d of " +
            f"$nMatched%,d matched " +
            f"(${100.0 * nSurv / math.max(nMatched, 1)}%.1f%%)")
          time(s"[$kind] ad-hoc exhaustive n=$n") {
            noop(Retrieval.bm25TopK(docs, "doc_id", "text", queries,
              k = 10, tf = Some(tf)))
          }
          time(s"[$kind] indexed exhaustive n=$n") {
            noop(Retrieval.bm25TopKIndexed(index, queries, k = 10))
          }
          time(s"[$kind] indexed pruned n=$n") {
            noop(Retrieval.bm25TopKPrunedIndexed(index, queries, k = 10))
          }
          time(s"[$kind] on-disk exhaustive n=$n") {
            noop(Retrieval.bm25TopKFromIndex(spark, idxDir, queries,
              k = 10))
          }
          time(s"[$kind] on-disk pruned n=$n") {
            noop(Retrieval.bm25TopKPrunedFromIndex(spark, idxDir,
              queries, k = 10))
          }
          time(s"[$kind] on-disk pruned free-theta n=$n") {
            noop(Retrieval.bm25TopKPrunedFromIndex(spark, idxDir,
              queries, k = 10, thetaExact = false))
          }
        }
      // doc-as-query workload arm (the q274-vs-q321 decision): the
      // ad-hoc path scores the whole batch against the corpus in ONE
      // shared-frame pass (cost ~ batch × matched postings, one
      // shuffle); the on-disk pruned path pays per-batch coordinator
      // reads but touches only essential terms' partitions. Measure
      // where the indexed path overtakes as the query batch grows.
      Seq(8, 32, 128).foreach { qb =>
        val stride = math.max(n / qb, 1)
        val qdf = docs.where(pmod(col("doc_id"), lit(stride)) === 0)
          .limit(qb)
          .select(col("doc_id").as("query_id"),
            array_join(slice(split(col("text"), " "), 1, 4), " ")
              .as("qtext")).localCheckpoint()
        val batch = qdf.collect()
          .map(r => (r.getLong(0).toInt, r.getString(1))).toSeq
        time(s"[docq] ad-hoc shared-frame qb=$qb n=$n") {
          noop(Retrieval.topKFromScores(
            Retrieval.bm25ScoresFrame(docs, "doc_id", "text", qdf,
              tf = Some(tf), wide = true), 10))
        }
        time(s"[docq] on-disk pruned qb=$qb n=$n") {
          noop(Retrieval.bm25TopKPrunedFromIndex(spark, idxDir, batch,
            k = 10))
        }
      }
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(idxDir))
    }
    spark.stop()
  }
}
