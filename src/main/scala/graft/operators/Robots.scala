package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** robots.txt interpretation — the crawl-policy stage a compliant
  * corpus builder runs BEFORE fetching/ingesting a URL (CommonCrawl
  * honors robots; a pipeline that ignores it ships pages publishers
  * excluded). Two halves:
  *
  *  - [[rules]] compiles raw robots.txt bodies (one per domain — a
  *    DOMAIN-sized metadata table, never corpus-sized) into wildcard-
  *    agent prefix rules, honoring the RFC 9309 group structure:
  *    consecutive `User-agent:` lines STACK onto one group, a group
  *    applies iff one of its agents is `*`, directives are
  *    case-insensitive, `#` comments and blank values drop, CRLF
  *    tolerated.
  *  - [[verdict]] evaluates URLs against the compiled rules with the
  *    RFC/Google precedence: the LONGEST matching prefix wins; on an
  *    exact length tie `Allow` beats `Disallow`; no matching rule
  *    means allowed (and so does a domain with no robots entry).
  *
  * Honest scope (documented, the PSL-snapshot discipline): `*` and `$`
  * WILDCARDS inside rule paths are NOT interpreted — such rules are
  * kept as literal prefixes (matching RFC 9309's note that unsupported
  * patterns may be treated literally); per-agent overrides beyond the
  * wildcard group (e.g. a `googlebot` group) are out of scope — a
  * corpus builder is the generic agent.
  *
  * Scale shape: compilation is one explode + two windows over the
  * domain-sized robots table; the verdict joins the (small) rule set
  * to the corpus BY DOMAIN — an equi broadcast join — then picks the
  * winning rule with one aggregate; the corpus never shuffles.
  */
object Robots {

  /** All effective `key: value` lines of the robots bodies — comments,
    * CR, and blank lines stripped; keys lowercased: (`domainCol`, pos,
    * key, value). The shared tokenizer behind the group parse and the
    * cross-group directives ([[sitemaps]]).
    */
  private def directiveLines(
      robots: DataFrame,
      domainCol: String,
      txtCol: String): DataFrame =
    robots
      .select(col(domainCol), posexplode(split(
        coalesce(col(txtCol), lit("")), "\n")).as(Seq("pos", "__raw")))
      // strip comments, CR, and surrounding whitespace
      .select(col(domainCol), col("pos"),
        trim(regexp_replace(regexp_replace(col("__raw"), "#.*$", ""),
          "\r", "")).as("ln"))
      .filter(col("ln") =!= "")
      .select(col(domainCol), col("pos"),
        lower(trim(regexp_extract(col("ln"), "^([^:]+):", 1))).as("key"),
        trim(regexp_extract(col("ln"), "^[^:]+:(.*)$", 1)).as("value"))

  /** Non-user-agent directives of the `*` groups: (`domainCol`, key,
    * value) with key ∈ {allow, disallow, crawl-delay} — the shared
    * parse behind [[rules]] and [[crawlDelays]]. Crawl-delay lines
    * count as effective lines for group-boundary detection (a
    * directive between two `User-agent:` lines ENDS the agent stack,
    * per RFC 9309's group structure).
    */
  private def starGroupDirectives(
      robots: DataFrame,
      domainCol: String,
      txtCol: String): DataFrame = {
    val lines = directiveLines(robots, domainCol, txtCol)
      .filter(col("key").isin(
        "user-agent", "allow", "disallow", "crawl-delay"))
    // RFC 9309 group structure: a group STARTS at a user-agent line
    // whose predecessor (among effective lines) is not one — stacked
    // agents share the group's rules
    val w = Window.partitionBy(col(domainCol)).orderBy(col("pos"))
    val grouped = lines
      .withColumn("__isUa", col("key") === "user-agent")
      .withColumn("__start",
        (col("__isUa") &&
          !coalesce(lag(col("__isUa"), 1).over(w), lit(false)))
          .cast("int"))
      .withColumn("__grp", sum(col("__start")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val starGroups = grouped
      .filter(col("__isUa") && col("value") === "*")
      .select(col(domainCol), col("__grp")).distinct()
    grouped
      .join(starGroups, Seq(domainCol, "__grp"))
      .filter(!col("__isUa") && col("value") =!= "")
      .select(col(domainCol), col("key"), col("value"))
  }

  /** Compile robots.txt bodies into wildcard-agent rules:
    * (`domainCol`, allow, prefix) — one row per effective
    * Allow/Disallow line in a `*` group, prefixes non-empty.
    */
  def rules(
      robots: DataFrame,
      domainCol: String,
      txtCol: String): DataFrame =
    starGroupDirectives(robots, domainCol, txtCol)
      .filter(col("key").isin("allow", "disallow"))
      .select(col(domainCol), (col("key") === "allow").as("allow"),
        col("value").as("prefix"))
      .distinct()

  /** Cross-group `Sitemap:` directives — RFC 9309 §2.3's one
    * group-independent line (any agent may use it): the crawl's seed
    * pointers, feeding [[Sitemaps.parse]] after fetch. One distinct
    * row per (`domainCol`, sitemap_url) with the q146 canonical form
    * alongside (malformed URLs keep the raw value, canon NULL).
    * Scope note: a `#` starts a robots comment ANYWHERE on a line, so
    * a fragment-bearing sitemap URL is truncated — fragments in
    * sitemap pointers are pathological and the RFC's comment rule
    * wins.
    */
  def sitemaps(
      robots: DataFrame,
      domainCol: String,
      txtCol: String): DataFrame =
    directiveLines(robots, domainCol, txtCol)
      .filter(col("key") === "sitemap" && col("value") =!= "")
      .select(col(domainCol), col("value").as("sitemap_url"),
        Urls.canonicalize(col("value")).as("sitemap_canon"))
      .distinct()

  /** Effective `Crawl-delay` per domain, in milliseconds:
    * (`domainCol`, delay_ms). Values are seconds with up to
    * millisecond precision (`Crawl-delay: 1.5` → 1500 — Yandex/Bing
    * accept fractional seconds); unparseable or negative values drop
    * (try-cast semantics — a domain whose only delay line is garbage
    * gets no row, and the scheduler's default applies). Several valid
    * delays across a domain's `*` groups collapse to the LARGEST —
    * the politeness-conservative reading. Exact DECIMAL(8,3)
    * arithmetic; no floats.
    */
  def crawlDelays(
      robots: DataFrame,
      domainCol: String,
      txtCol: String): DataFrame =
    starGroupDirectives(robots, domainCol, txtCol)
      .filter(col("key") === "crawl-delay")
      .select(col(domainCol),
        expr("try_cast(value AS decimal(8,3))").as("__sec"))
      .filter(col("__sec").isNotNull && col("__sec") >= 0)
      .groupBy(col(domainCol))
      .agg(max((col("__sec") * 1000).cast("long")).as("delay_ms"))

  /** URL path (query included — robots prefixes match the full
    * path-and-query string), '/' when empty, NULL for malformed URLs.
    */
  def pathOf(url: Column): Column = {
    val rest = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^#]*)", 1)
    val p = regexp_extract(rest, "^[^/?]*(/[^#]*|\\?[^#]*)?", 1)
    when(rest === "", lit(null).cast("string"))
      .otherwise(when(p === "", "/").otherwise(p))
  }

  /** Per-URL crawl verdict against [[rules]]: (`idCol`, domain, path,
    * allowed, rule_prefix [the winning rule, NULL when none matched],
    * rule_allow). `ruleSet` must carry (domain, allow, prefix); it is
    * broadcast (domain-metadata-sized). Longest-prefix-wins, Allow
    * beats Disallow on a length tie, unmatched/ruleless/malformed →
    * allowed (robots govern fetching; malformed URLs fail elsewhere).
    */
  def verdict(
      urls: DataFrame,
      urlCol: String,
      idCol: String,
      ruleSet: DataFrame): DataFrame = {
    val keyed = urls.select(col(idCol),
      nullif(PublicSuffix.registeredDomain(col(urlCol)), lit(""))
        .as("domain"),
      pathOf(col(urlCol)).as("path"))
    val r = broadcast(ruleSet.select(col("domain").as("__rd"),
      col("allow").as("__ra"), col("prefix").as("__rp")))
    val matched = keyed
      .join(r, col("domain") === col("__rd") &&
        col("path").startsWith(col("__rp")), "left")
      // winner per URL: longest prefix, Allow over Disallow on ties —
      // encoded as max(struct(len, allow, prefix)) (boolean sorts
      // false < true, so Allow wins equal lengths)
      .groupBy(col(idCol), col("domain"), col("path"))
      .agg(max(when(col("__rp").isNotNull,
        struct(length(col("__rp")).as("l"), col("__ra").as("a"),
          col("__rp").as("p")))).as("__win"))
    matched.select(col(idCol), col("domain"), col("path"),
      coalesce(col("__win.a"), lit(true)).as("allowed"),
      col("__win.p").as("rule_prefix"),
      col("__win.a").as("rule_allow"))
  }
}
