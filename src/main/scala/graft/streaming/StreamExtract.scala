package graft.streaming

import org.apache.spark.sql.Dataset
import graft.model.ExtractedPage

/** Structured Streaming surface — the analogue of the reference's always-on
  * HTTP server mode (/root/reference/src/bin/server/server.rs:97-178): pages
  * arrive continuously and go through the batch job's own transform,
  * `ExtractJob.run` at its defaults (no salt, no size sort: both would be a
  * shuffle or a sort per micro-batch, and micro-batches are already
  * bounded), so correctness properties (byte identity, graceful
  * degradation) carry over verbatim. StreamingSpec and query x13 drive it
  * through a `MemoryStream`. This object adds the one stage a stream needs
  * and a batch does not: dedup across micro-batches.
  *
  * Scale notes: the map is narrow (no state, no shuffle), so micro-batch
  * throughput equals batch throughput.
  */
object StreamExtract {

  /** Streaming exact-dedup with custom keyed state
    * (`KeyValueGroupedDataset.flatMapGroupsWithState`): the first page per
    * content hash passes, later arrivals are dropped — the always-on
    * pipeline's dedup stage. State per key is one boolean, keyed on the
    * SHA-256 of the extracted text: unlike the oracle-checkable md5 batch
    * key convention (TextOps.md5Key), this state key faces ADVERSARIAL
    * crawled content, and chosen-prefix md5 collisions are practical — a
    * collision pair would silently drop a distinct document as a
    * duplicate. Pass `stateTtl = Some("1 hour")` for a
    * processing-time TTL that bounds state at scale (tune to the crawl
    * revisit horizon); None keeps state for the query lifetime. */
  def dedupStream(extracted: Dataset[ExtractedPage],
      stateTtl: Option[String] = None): Dataset[ExtractedPage] = {
    import extracted.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    extracted
      .groupByKey { p =>
        // error rows and empty extractions are NOT content duplicates of each
        // other — key them by url so each passes through exactly once;
        // real content keys on the SHA-256 of the text
        if (p.error.nonEmpty || p.text == null || p.text.isEmpty) "u:" + p.url
        else {
          // per-thread digest: getInstance is a JCA provider-registry lookup
          // plus an allocation — too heavy to pay once per record on the
          // streaming hot path
          val md = Sha256.get(); md.reset()
          "t:" + java.util.Base64.getEncoder.encodeToString(
            md.digest(p.text.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        }
      }
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(
        (_: String, rows: Iterator[ExtractedPage], state: GroupState[Boolean]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // materialized: the input iterator is only valid during this
            // call, the returned one is consumed after it
            val out =
              if (state.exists) Vector.empty[ExtractedPage]
              else rows.take(1).toVector // first arrival for this content wins
            state.update(true)
            stateTtl.foreach(state.setTimeoutDuration)
            out.iterator
          }
        })
  }

  private val Sha256 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("SHA-256"))
}
