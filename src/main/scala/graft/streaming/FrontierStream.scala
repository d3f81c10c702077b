package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming crawl-frontier admission — the continuous twin of
  * [[graft.operators.HtmlOps.frontierFilter]]: pages arrive as a stream,
  * outlinks are extracted per row (the whole
  * [[graft.operators.HtmlOps.extractLinks]] lineage is stateless
  * projections + one generate, so it runs on a `readStream` unchanged),
  * URLs already fetched are dropped against the crawled-set table, and
  * each surviving URL is emitted EXACTLY ONCE — the first time any page
  * references it — through a first-seen state keyed on the url.
  *
  * This is the shape a live crawler runs: parse workers feed pages in,
  * the scheduler receives a stream of newly-discovered fetchable URLs.
  * Parity with batch (spec + drained oracle rows): the emitted set over
  * any drained prefix equals the batch [[graft.operators.HtmlOps
  * .frontierFilter]] url/host set over the same pages (the batch form
  * additionally carries `n_refs`, which is not final until the corpus
  * is — a stream emits admissions, not totals). Re-deliveries of an
  * already-admitted url emit nothing (the state absorbs at-least-once
  * sources).
  *
  * === The 100 TB state story (the [[admittedStreamBloom]] loop) ===
  * A crawler is the one workload where "state = all URLs ever seen" IS
  * the problem, so the deployment shape bounds it twice:
  *
  *  1. '''Bloom front.''' The crawled set's Bloom sketch (a few MB at
  *     any fpp·n, built once per snapshot) probes every candidate
  *     row-locally BEFORE the stateful operator: already-crawled urls —
  *     the overwhelming majority of discoveries in a mature crawl —
  *     die in the scan, never reaching the anti-join exchange or the
  *     state store. Only the maybe-crawled sliver (true duplicates +
  *     fpp·|candidates|) is verified exactly against the crawled table
  *     (no false admissions; Blooms have no false negatives, so no
  *     lost admissions either — output ≡ the exact plan at every fpp).
  *  2. '''State drain.''' Admitted-url state is NOT left in the state
  *     store forever: [[snapshotAdmitted]] appends a drained epoch's
  *     admissions into the crawled-set table (they are being fetched —
  *     that is what admission means), so the NEXT epoch's Bloom + verify
  *     join absorb them and its state starts EMPTY. State size is
  *     bounded by one epoch's NEW admissions — the inter-snapshot
  *     discovery rate — never by the corpus. The reference's memoized
  *     seen-set discipline (pipelines.py:84-92: recompute nothing already
  *     materialized) applied to the state store.
  *
  * Each micro-batch shuffles once on `url` (the verify anti-join and the
  * state operator share the key).
  */
object FrontierStream {

  case class LinkRow(url: String, dstHost: String)
  case class Admitted(url: String, dst_host: String)

  private def firstSeen(cand: Dataset[LinkRow]): Dataset[Admitted] = {
    import cand.sparkSession.implicits._
    cand.groupByKey(_.url)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (url: String, rows: Iterator[LinkRow], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(Admitted(url, rows.next().dstHost))
          })
  }

  /** pages(stream) → admitted frontier urls (append-mode). `crawled`
    * must be a STATIC frame (the fetched-set snapshot this run admits
    * against). EXACT form: every candidate pays the stream-static
    * anti-join and one boolean of state per distinct admitted url —
    * correct at any scale, but the state grows with the run's distinct
    * admissions; the deployment shape is [[admittedStreamBloom]] +
    * [[snapshotAdmitted]]. */
  def admittedStream(pages: DataFrame, htmlCol: String, baseUrlCol: String,
                     crawled: DataFrame, crawledUrlCol: String): Dataset[Admitted] = {
    import pages.sparkSession.implicits._
    val links = graft.operators.HtmlOps.extractLinks(pages, htmlCol, baseUrlCol)
    val cand = links.filter(col("url").isNotNull)
      .join(crawled.select(col(crawledUrlCol).as("url")), Seq("url"),
        "left_anti")
      .select(col("url"), col("dst_host").as("dstHost")).as[LinkRow]
    firstSeen(cand)
  }

  /** The BLOOM-FRONTED admission stream — [[admittedStream]] with the
    * crawled-set probe paid row-locally (see the object contract):
    * definite-new urls (Bloom miss — no false negatives) skip the
    * verify join entirely; only the maybe-crawled sliver is anti-joined
    * exactly against the crawled table, so the crawled set is scanned
    * (twice at build: count + sketch; once per epoch for the verify
    * side) but NEVER shuffled, and the stateful operator sees only
    * urls that are genuinely not yet crawled. Emitted set ≡
    * [[admittedStream]] ≡ the batch [[graft.operators.HtmlOps
    * .frontierFilter]] at every fpp (spec-pinned at fpp = 0.5, where
    * false positives are forced through the verify path; the
    * `web_frontier` oracle closed form attests the drained twin).
    *
    * `crawled` is read from `crawledPath` (the snapshot table
    * [[snapshotAdmitted]] maintains) so the epoch loop — run, drain,
    * snapshot, restart — needs no caller-side plumbing. */
  def admittedStreamBloom(pages: DataFrame, htmlCol: String,
                          baseUrlCol: String, crawledPath: String,
                          fpp: Double = 0.01): Dataset[Admitted] = {
    import pages.sparkSession.implicits._
    val spark = pages.sparkSession
    // heal an interrupted ArtifactSwap promotion first (crawledPath
    // absent, real table stranded under `_prev`) — a missing-path throw
    // here would stall the epoch loop on a state ArtifactSwap.recover
    // repairs in one rename (the LshIndexIO.append discipline)
    graft.operators.ArtifactSwap.recover(spark, crawledPath)
    val crawledUrls = spark.read.parquet(crawledPath)
      .select(col("url"))
    val n = crawledUrls.count()
    val links = graft.operators.HtmlOps
      .extractLinks(pages, htmlCol, baseUrlCol)
      .filter(col("url").isNotNull)
      .select(col("url"), col("dst_host"))
    val cand =
      if (n == 0) links
      else {
        import graft.operators.TextOps
        val bloom = crawledUrls.select(TextOps.hash60(col("url")).as("h"))
          .stat.bloomFilter("h", n, fpp)
        val probe = TextOps.bloomMightContain(bloom)(TextOps.hash60(col("url")))
        // definite-new: row-local admission, no join, no crawled scan
        val definite = links.filter(!probe)
        // maybe-crawled sliver: exact verify against the crawled table
        val maybe = links.filter(probe)
          .join(crawledUrls, Seq("url"), "left_anti")
        definite.unionByName(maybe)
      }
    firstSeen(cand.select(col("url"), col("dst_host").as("dstHost"))
      .as[LinkRow])
  }

  /** STATE DRAIN — the retention policy that bounds the first-seen
    * state (object contract #2): append a drained epoch's admitted urls
    * to the crawled-set snapshot table, so the next
    * [[admittedStreamBloom]] epoch starts with EMPTY state and its
    * Bloom/verify absorb everything this epoch admitted. One distinct
    * projection + a partitioned append — no rewrite of the existing
    * snapshot. Returns the number of urls drained. */
  def snapshotAdmitted(spark: SparkSession, admitted: DataFrame,
                       crawledPath: String): Long = {
    import org.apache.spark.sql.Observation
    // heal an interrupted ArtifactSwap promotion BEFORE the
    // mode('append') write: an append landing while crawledPath is
    // absent (real table stranded under `_prev`) would silently create a
    // fresh one-epoch table beside the real seen set — after which the
    // bloom front re-admits every crawled url
    graft.operators.ArtifactSwap.recover(spark, crawledPath)
    val obs = Observation()
    admitted.select(col("url")).distinct()
      .observe(obs, count(lit(1)).as("rows"))
      .write.mode("append").parquet(crawledPath)
    obs.get("rows").asInstanceOf[Long]
  }
}
