package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.matchers.{InSet, Matcher, Not, Re}

/** The label dictionary: the distinct `(label_name, label_value)` pairs
  * of a corpus — the Spark equivalent of the reference's per-block
  * label-value index (`index/index.go:404-448`, read via `LabelValues`
  * `index/index.go:866-892`).
  *
  * Its purpose is the regex scale path (SURVEY §7.5.6): a regex matcher
  * is evaluated once per *distinct value* over this (tiny) table, and
  * the fact-table predicate becomes a set lookup — exactly how the
  * reference compiles `=~` into postings lookups per matching value
  * (`querier.go:414-428`), and never a per-sample-row regex. At 10⁹
  * rows × a few thousand distinct values, this turns the dominant scan
  * cost into a dictionary scan + a pushdown-able `In` filter.
  *
  * [[graft.storage.BlockStore]] persists the dictionary per block at
  * write time; [[fromSamples]] derives it on the fly for ad-hoc frames.
  */
object LabelDictionary {

  /** Derive the dictionary from a long-format samples frame. */
  def fromSamples(samples: DataFrame): DataFrame =
    samples
      .select(explode(col("labels")).as(Seq("label_name", "label_value")))
      .distinct()

  /** The most literals a driver-built `isin` filter carries. Measured
    * against a 100k-value label (the 5M-series matcher bench), a
    * 100k-literal `isin` costs seconds of analysis/codegen and beats the
    * alternative at nothing — past ~1k values a per-distinct-value
    * regex eval ([[rewrite]]) or a semi-join against the set
    * ([[graft.storage.BlockStore.readRange]]) IS the fast path. */
  val literalLimit: Int = 1000

  /** Rewrite every regex matcher in `ms` into an [[InSet]] by evaluating
    * it over the dictionary (`=~` and, via [[Not]], `!~`). Non-regex
    * matchers pass through. The value list is collected to the driver
    * (it becomes an `isin` the scan can push down); `maxValues` guards
    * the collect — beyond it the matcher is left as a regex, which is
    * still correct (one rlike per distinct index/dictionary row), just
    * not the pushdown path.
    */
  def rewrite(dict: DataFrame, ms: Seq[Matcher], maxValues: Int = literalLimit): Seq[Matcher] = {
    def rw(m: Matcher): Matcher = m match {
      // upstream's literal fast paths (`.*` matches everything, `.+`
      // everything non-empty): a dictionary scan can only ever return
      // "too many values, keep the regex" for these, so don't spend a
      // job learning that — the matcher-resolution aggregate handles
      // both shapes directly
      case re @ Re(_, ".*" | ".+") => re
      case re @ Re(name, _) =>
        val vals = dict
          .where(col("label_name") === name &&
            col("label_value").rlike(re.anchored))
          .select("label_value")
          .limit(maxValues + 1)
          .collect().map(_.getString(0))
        if (vals.length > maxValues) re
        else {
          val set = vals.toSet
          InSet(name, if (re.matchesValue("")) set + "" else set)
        }
      case Not(inner) => Not(rw(inner))
      case other      => other
    }
    ms.map(rw)
  }
}
