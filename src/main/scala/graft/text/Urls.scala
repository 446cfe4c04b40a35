package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization for crawl-intake curation — the step between the
  * i17 WARC reader and every per-domain policy: the same page arrives as
  * `HTTP://WWW.Site.COM:80/a/?utm_source=feed#top` and
  * `http://site.com/a`, and until the two spell identically, URL-level
  * dedup, domain blocklists, and per-domain caps all silently miss.
  *
  * Everything here is built from codegen'd Spark built-ins
  * (regexp_replace/regexp_extract chains — no UDF, SQL-UDF registerable),
  * so the canonical form is computable inside a scan projection at intake
  * throughput. The rules are the conservative, semantics-preserving set:
  *
  *  1. drop the fragment (`#…` — client-side only, never part of identity)
  *  2. lowercase the scheme and authority (RFC 3986 §6.2.2.1; path and
  *     query stay case-sensitive and untouched)
  *  3. strip a leading `www.` from the host
  *  4. strip the scheme's DEFAULT port only (`http…:80`, `https…:443`;
  *     a non-default port is identity-bearing and kept)
  *  5. remove tracking query params ([[TrackingParams]]: `utm_*`,
  *     `fbclid`, `gclid`, `msclkid`) and clean the separators they leave
  *  6. strip trailing `/` runs at end-of-path (so `/a/` == `/a`, and the
  *     bare-root `host/` == `host`)
  *
  * Param REORDERING is deliberately not done: `?a=1&b=2` vs `?b=2&a=1`
  * may hit different cache keys on real servers, and a sort would need a
  * per-row array shuffle for a rewrite most URLs don't need.
  *
  * Reference analog: the bronze layer's path normalization before
  * watermark comparison (2_bronze_ingestion_adf/pipelines/pl_master.json
  * — dataset paths are case-normalized config, not raw strings).
  */
object Urls {

  /** Tracking-param name alternation removed by [[canonicalize]]. */
  val TrackingParams = "utm_[a-z0-9_]+|fbclid|gclid|msclkid"

  /** The canonical form of `url` (rules above). A string with no
    * recognizable `scheme://` prefix passes through rules 1/5/6 only —
    * never mangled, never nulled.
    */
  def canonicalize(url: Column): Column = {
    val noFrag = regexp_replace(trim(url), "#.*$", "")
    // Lowercase scheme://authority; the remainder (path?query) is appended
    // untouched. One-element-lambda binding so the regexp_extract runs
    // once, not once per use (the graft_gram_hashes discipline).
    val lowered = element_at(transform(array(noFrag), u =>
      element_at(transform(
        array(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)", 1)),
        p => concat(lower(p), u.substr(length(p) + 1, lit(1000000)))), 1)), 1)
    // strip userinfo: identity never rides `user:pass@` in crawl corpora,
    // and keeping it lets phishing-shaped URLs (`https://bank.com@evil.io`)
    // masquerade under the decoy host in every per-domain policy
    val noUser = regexp_replace(lowered, "^([a-z][a-z0-9+.-]*://)[^/?@]*@", "$1")
    val noWww = regexp_replace(noUser, "^([a-z][a-z0-9+.-]*://)www\\.", "$1")
    // bracketed IPv6 hosts carry colons INSIDE the authority — the host
    // alternation must consume the whole bracket group before the port
    val noDefPort = regexp_replace(
      regexp_replace(noWww,
        "^(http://(?:\\[[^\\]]+\\]|[^/?:]*)):80(?=[/?]|$)", "$1"),
      "^(https://(?:\\[[^\\]]+\\]|[^/?:]*)):443(?=[/?]|$)", "$1")
    val noTrack = regexp_replace(noDefPort,
      s"(?<=[?&])(?:$TrackingParams)=[^&#]*&?", "")
    val noDanglingSep = regexp_replace(noTrack, "[?&]+$", "")
    regexp_replace(noDanglingSep, "/+(\\?|$)", "$1")
  }

  /** The registrable-domain column of a CANONICAL url (lowercase by
    * [[canonicalize]]; empty string when there is no `scheme://` prefix;
    * bracketed IPv6 hosts come back whole, brackets included).
    */
  def domain(canonicalUrl: Column): Column =
    regexp_extract(canonicalUrl,
      "^[a-z][a-z0-9+.-]*://(\\[[^\\]]+\\]|[^/?:]*)", 1)

  /** SURT (Sort-friendly URI Reordering Transform) key of a CANONICAL
    * url — the public web-archive/CDX sort convention: host labels
    * reversed and comma-joined, optional `:port`, then `)` + path+query
    * (`https://a.example.com/p?q=1` → `com,example,a)/p?q=1`). Reversing
    * the host makes one registrable domain's captures — and its
    * subdomains' — lexicographically CONTIGUOUS, which is what lets a
    * sorted capture index range-scan a site. Scheme is dropped (http and
    * https captures of a page sort together); a bracketed IPv6 host has
    * no label order to reverse and passes through whole; a string
    * without a `scheme://` prefix has no host — null key.
    */
  def surtKey(canonicalUrl: Column): Column = {
    val host = domain(canonicalUrl)
    val port = regexp_extract(canonicalUrl,
      "^[a-z][a-z0-9+.-]*://(?:\\[[^\\]]+\\]|[^/?:]*):(\\d+)", 1)
    val rest = regexp_replace(canonicalUrl, "^[a-z][a-z0-9+.-]*://[^/?]*", "")
    val revHost = when(host.startsWith("["), host)
      .otherwise(array_join(reverse(split(host, "\\.")), ","))
    when(host === "", lit(null).cast("string"))
      .otherwise(concat(revHost,
        when(port =!= "", concat(lit(":"), port)).otherwise(lit("")),
        lit(")"), rest))
  }

  /** RFC 3986 §5.2.4 dot-segment removal over an absolute PATH column
    * (leading `/`): one bounded per-row fold over the split segments —
    * `.` is skipped, `..` pops the previous segment (never past the
    * root), everything else pushes. Exact at any nesting depth (a
    * regexp-chain spelling would cap the depth), and entirely row-local:
    * paths are path-sized, so the HOF cost is invisible next to the scan.
    *
    * One RFC deviation, deliberate: a trailing `.`/`..` segment does not
    * leave the trailing `/` the RFC algorithm would (`/a/b/..` → `/a`,
    * not `/a/`) — [[canonicalize]] strips trailing-slash runs anyway, so
    * the canonical identity is unchanged and the fold stays one pass.
    */
  def removeDotSegments(path: Column): Column = {
    val folded = aggregate(split(path, "/"),
      array().cast("array<string>"),
      (acc, s) => when(s === ".", acc)
        .when(s === "..",
          // never pop the root marker (the leading empty segment)
          when(size(acc) > 1, slice(acc, lit(1), size(acc) - 1)).otherwise(acc))
        .otherwise(array_append(acc, s)))
    // ["",""] (input "/", or "/a/.." collapsing to root) must render "/",
    // not the "" concat_ws gives a lone-root array after a trailing pop.
    val joined = concat_ws("/", folded)
    when(joined === "", lit("/")).otherwise(joined)
  }

  /** Resolve an anchor `href` against the page's `base` URL — RFC 3986 §5
    * reduced to the reference shapes crawl anchors actually take:
    *
    *  - absolute (`scheme:…`) → kept as-is (non-http schemes like
    *    `mailto:`/`javascript:` survive here so the CALLER can filter on
    *    the resolved scheme — dropping them silently would hide them)
    *  - protocol-relative (`//host/…`) → base's scheme + `:` + href
    *  - root-relative (`/path…`) → base origin + dot-normalized path
    *  - query-only (`?…`) → base minus its query/fragment + href
    *  - fragment-only (`#…`) or empty → base minus its fragment
    *  - path-relative (anything else) → base DIRECTORY + href, with
    *    [[removeDotSegments]] applied (`../doc/7` climbs correctly)
    *
    * Built from the same codegen'd regexp/HOF built-ins as
    * [[canonicalize]] — no UDF, scan-projection cost — and meant to be
    * composed with it: `canonicalize(resolve(base, href))` is the
    * link-graph edge key. A base with no `scheme://` prefix resolves
    * nothing sensibly; absolute hrefs still pass through, everything
    * else concatenates onto the malformed base unguarded (crawl frames
    * carry real fetch URLs — i17 guarantees the base).
    */
  def resolve(base: Column, href: Column): Column = {
    val h = trim(href)
    val noFragBase = regexp_replace(trim(base), "#.*$", "")
    val noQueryBase = regexp_replace(noFragBase, "\\?.*$", "")
    val origin = regexp_extract(noQueryBase,
      "^([A-Za-z][A-Za-z0-9+.-]*://(?:\\[[^\\]]+\\]|[^/?#])*)", 1)
    val scheme = lower(regexp_extract(noQueryBase,
      "^([A-Za-z][A-Za-z0-9+.-]*):", 1))
    // base path after the origin ("" when the base is origin-only);
    // its DIRECTORY is everything up to and including the last "/".
    val basePath = substring(noQueryBase, length(origin) + 1, lit(1000000))
    val dirPath = when(basePath.rlike("/"),
      regexp_replace(basePath, "/[^/]*$", "/")).otherwise(lit("/"))
    when(h.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), h)
      .when(h.rlike("^//"), concat(scheme, lit(":"), h))
      .when(h.rlike("^/"), concat(origin,
        removeDotSegments(regexp_replace(h, "[?#].*$", "")),
        regexp_extract(h, "([?#].*)$", 1)))
      .when(h.rlike("^\\?"), concat(noQueryBase, h))
      .when(h.rlike("^#") || (h === ""), noFragBase)
      .otherwise(concat(origin,
        removeDotSegments(concat(dirPath, regexp_replace(h, "[?#].*$", ""))),
        regexp_extract(h, "([?#].*)$", 1)))
  }

  /** URL-level crawl curation (q102) over a raw URL column: canonicalize,
    * drop the `blocklist` domains (a broadcast anti-join; none when
    * empty), then keep the first `k` rows per domain under `order` (q08's
    * top-N-per-group — domains are many and bounded, never a corpus-wide
    * key). Output: (`idCol`, domain, url, rn).
    */
  def curate(docs: DataFrame, idCol: String, urlCol: String,
      order: Seq[Column], blocklist: Seq[String], k: Int): DataFrame = {
    val canon = docs.withColumn("url", canonicalize(col(urlCol)))
      .withColumn("domain", domain(col("url")))
    val kept =
      if (blocklist.isEmpty) canon
      else {
        val spark = docs.sparkSession
        import spark.implicits._
        canon.join(broadcast(blocklist.toDF("domain")), Seq("domain"), "left_anti")
      }
    graft.ops.Windows.topNPerGroup(kept, Seq("domain"), order, k)
      .select(col(idCol), col("domain"), col("url"), col("rn"))
  }
}
