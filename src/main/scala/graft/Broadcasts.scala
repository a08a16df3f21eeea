package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** The ONE byte-denominated broadcast gate for every "join against a frame
  * that is small today but linear in the corpus" site in the engine.
  *
  * Round 11's 100× probe showed the failure mode three times over: a frame
  * that rides a broadcast at every tested scale (query sets, flag tables,
  * index frames) quietly crosses driver/executor memory at 100 TB because
  * its gate was an unconditional hint — or a ROW-count threshold that says
  * nothing about bytes (10M one-boolean rows and 10M hash-set rows are the
  * same "10M"). Every such site now routes through [[gate]]:
  *
  *   - the decision is `rows × rowBytes ≤ limit` — an explicit per-site
  *     byte estimate (documented at the call site) against a byte limit;
  *   - the limit resolves `graft.broadcast.<site>` →
  *     `graft.broadcast.default` → the site's built-in default, so one conf
  *     flips a site (or, via `default`, the fleet — how tests pin the
  *     shuffle fallback plan) without touching code.
  *
  * Above the limit the caller's join runs WITHOUT the hint: an honest
  * shuffle (equi-keys) or a distributed cartesian (bound-scan shapes) that
  * Spark plans by its own statistics — never a driver-sized broadcast.
  * Sites and their defaults are documented in SCALING.md ("Broadcast
  * gates").
  */
object Broadcasts {
  /** Resolve the byte limit for `site`: `graft.broadcast.<site>` >
    * `graft.broadcast.default` > `defaultBytes`.
    */
  def limitBytes(s: SparkSession, site: String, defaultBytes: Long): Long =
    s.conf.getOption(s"graft.broadcast.$site")
      .orElse(s.conf.getOption("graft.broadcast.default"))
      .map(_.toLong).getOrElse(defaultBytes)

  /** True iff a frame of `rows × rowBytes` estimated bytes may broadcast at
    * `site`.
    */
  def fits(s: SparkSession, site: String, rows: Long, rowBytes: Long,
      defaultBytes: Long): Boolean =
    // checked multiply: byte estimates scale with corpus statistics
    // (e.g. vocabulary-width bitset rows), and a silent Long overflow
    // would flip the gate OPEN — the one direction it must never fail.
    // A product beyond Long.MaxValue bytes fits nowhere by definition.
    try Math.multiplyExact(rows, rowBytes) <= limitBytes(s, site, defaultBytes)
    catch { case _: ArithmeticException => false }

  /** The gate itself: `broadcast` below the limit, `identity` above it —
    * drop-in for the `bs(frame)` pattern at every join site.
    *
    * Deliberately NO forced-strategy middle tier above the limit: an r13
    * sf3 ablation added a SHUFFLE_HASH build hint for over-gate frames
    * under 1 GiB and measured the jaccard verify join's warm steady state
    * at 78 s vs 16 s un-hinted (cold first execution improved 4×, which is
    * the state neither the min-of-N bench nor a long-lived executor sees).
    * The identity branch leaves the planner AND AQE's runtime re-plan free
    * to pick the strategy from observed shuffle statistics — a static hint
    * here overrides them with construction-time guesses.
    */
  def gate(s: SparkSession, site: String, rows: Long, rowBytes: Long,
      defaultBytes: Long): DataFrame => DataFrame =
    if (fits(s, site, rows, rowBytes, defaultBytes))
      (df: DataFrame) => broadcast(df)
    else identity

  /** [[gate]] for sites that carry a PRECOMPUTED byte estimate (the
    * streaming screens' corpus indexes, sized once at build time so a
    * foreachBatch body never pays a per-batch statistics job).
    */
  def gateBytes(s: SparkSession, site: String, estBytes: Long,
      defaultBytes: Long): DataFrame => DataFrame =
    gate(s, site, estBytes, rowBytes = 1, defaultBytes = defaultBytes)
}
