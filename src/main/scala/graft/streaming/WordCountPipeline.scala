package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The word-count dataflow of the reference job, re-expressed as
  * declarative Spark transforms (SURVEY.md §2.1 #4-6):
  *
  *  reference: source → rebalance → Tokenizer(flatMap) → keyBy(word)
  *             → CountWords(ReducingState) → latency sink
  *  here:      source → [repartition] → tokenize (explode/split/filter)
  *             → groupBy(word) agg   — or flatMapGroupsWithState for the
  *             reference's exact sampled-emission semantics
  *
  * Both count paths share Spark's state store (the ReducingState analog);
  * the shuffle on `word` is the keyBy analog and is inserted by Catalyst.
  */
object WordCountPipeline {

  /** Tokenizer parity with StatefulWordCount.java:104-132: split on \W+,
    * drop empty tokens (Java split yields a leading "" for delimiter-led
    * strings — reference filters length>0 at :121), emit (ts, word, 1L,
    * sourceId). Declarative: stays inside WholeStageCodegen. */
  def tokenize(sentences: Dataset[Sentence]): Dataset[Token] = {
    import sentences.sparkSession.implicits._
    sentences
      .select(col("ts"),
        explode(split(col("sentence"), "\\W+")).as("word"),
        lit(1L).as("cnt"),
        col("sourceId"))
      .where(length(col("word")) > 0)
      .as[Token]
  }

  /** Idiomatic running count: streaming aggregation in update mode.
    * Spark's StateStore holds the per-word total — exactly the
    * ReducingState of StatefulWordCount.java:144-150 — and emits each
    * key's new total every micro-batch it changes. */
  def runningCounts(tokens: Dataset[Token]): DataFrame =
    tokens.groupBy(col("word")).agg(sum(col("cnt")).as("count"))

  /** Exact-emission-semantics variant (StatefulWordCount.java:134-180):
    * maintains the per-word running total but emits one record per
    * *stamped* input token only (`ts != -1`), carrying the timestamp and
    * sourceId through for the latency sink — the reference's sampled
    * latency channel. Append-mode compatible. Keyed by the `word`
    * column itself: `groupByKey(_.word)` would add an `AppendColumns`
    * step and ship every word twice through the shuffle. */
  def statefulCounts(tokens: Dataset[Token]): Dataset[WordCount] = {
    import tokens.sparkSession.implicits._
    tokens
      .groupBy(col("word")).as[String, Token]
      .flatMapGroupsWithState[Long, WordCount](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (word: String, it: Iterator[Token], state: GroupState[Long]) =>
          var total = state.getOption.getOrElse(0L)
          val out = scala.collection.mutable.ArrayBuffer.empty[WordCount]
          it.foreach { t =>
            total += t.cnt
            if (t.ts != -1L) out += WordCount(t.ts, word, total, t.sourceId)
          }
          state.update(total)
          out.iterator
      }
  }
}
