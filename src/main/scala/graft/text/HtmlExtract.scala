package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML → main-text extraction — the INTAKE step a real web corpus runs
  * before any of the text-quality/dedup family applies (C4/RefinedWeb
  * lineage): strip invisible content, segment on block-level tags, keep
  * the text-dense / link-sparse blocks (public Arc90-readability and
  * jusText heuristics), reassemble the survivors in document order.
  *
  * Every decision is a per-row projection with integer-exact thresholds
  * (the q89 spelling): zero shuffle until the per-doc reassembly, which is
  * one bounded `collect_list` group-by (document-sized, never
  * corpus-skewed). At 100 TB this is scan-shaped — the MAIN-TEXT regexes
  * are RE2-compatible (no backreferences, no lookaround) so the SAME
  * patterns define the DuckDB oracle. ([[anchorTexts]] alone uses one
  * negative lookahead — its oracle is closed-form, never
  * pattern-mirrored, so the invariant holds where it matters.)
  *
  * Boilerplate the rule targets: navigation chrome and footers are LINK-
  * DENSE (most of their visible text sits inside `<a>`), ads/button rows
  * are short; article prose is long and link-sparse. The two knobs:
  * `minLen` (min visible chars for a content block) and `maxLinkPct`
  * (max % of visible chars inside anchors).
  *
  * Reference lineage: the bronze→silver normalize-before-logic step
  * (4_silver/silver_transactions.py cast/trim block) applied at markup
  * level — canonical text first, every downstream operator after.
  */
object HtmlExtract {

  /** Block-level tags whose open OR close marks a segment boundary. */
  val BlockTags: String = "p|div|br|h[1-6]|li|ul|ol|tr|td|th|table|thead|" +
    "tbody|section|article|aside|main|header|footer|nav|blockquote|pre|form"

  /** Drop content that renders nothing: script and style elements (two
    * passes — RE2 has no backreferences, and the oracle shares these
    * patterns verbatim).
    */
  def dropInvisible(c: Column): Column =
    regexp_replace(
      regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " "),
      "(?is)<style[^>]*>.*?</style>", " ")

  /** Remove every remaining tag, keeping visible text. */
  def stripTags(c: Column): Column = regexp_replace(c, "<[^>]*>", "")

  // -----------------------------------------------------------------------
  // HTML character references (entities). Undecoded entities glue words
  // (`a&nbsp;b` is one token), inflate symbol ratios (q89), and perturb
  // every downstream gram — so extracted text decodes them BEFORE the
  // density read. Two spellings stay in lockstep off the shared table +
  // pattern below: the Column API ([[decodeEntities]]) and the DuckDB
  // oracle ([[decodeEntitiesDuck]]).
  // -----------------------------------------------------------------------

  /** Common named character references (HTML5 subset; uppercase variants
    * the spec also defines for the XML five). Values are the rendered
    * characters; `nbsp`/`shy` decode to their real codepoints and are then
    * normalized by the whitespace pass (U+00A0 → space, U+00AD → removed),
    * so an `&nbsp;`-padded block counts as the whitespace it renders as.
    */
  val Entities: Seq[(String, String)] = Seq(
    "amp" -> "&", "AMP" -> "&", "lt" -> "<", "LT" -> "<",
    "gt" -> ">", "GT" -> ">", "quot" -> "\"", "QUOT" -> "\"",
    "apos" -> "'", "nbsp" -> "\u00a0", "shy" -> "\u00ad",
    "ndash" -> "–", "mdash" -> "—", "hellip" -> "…",
    "lsquo" -> "‘", "rsquo" -> "’",
    "ldquo" -> "“", "rdquo" -> "”",
    "laquo" -> "«", "raquo" -> "»",
    "copy" -> "©", "reg" -> "®", "trade" -> "™",
    "deg" -> "°", "middot" -> "·", "sect" -> "§",
    "para" -> "¶", "plusmn" -> "±",
    "times" -> "×", "divide" -> "÷",
    "frac12" -> "½", "frac14" -> "¼", "frac34" -> "¾",
    "euro" -> "€", "pound" -> "£", "yen" -> "¥",
    "cent" -> "¢", "bull" -> "•",
    "eacute" -> "é", "egrave" -> "è", "ecirc" -> "ê",
    "agrave" -> "à", "acirc" -> "â", "ccedil" -> "ç",
    "uuml" -> "ü", "ouml" -> "ö", "auml" -> "ä",
    "szlig" -> "ß", "ntilde" -> "ñ", "aacute" -> "á",
    "iacute" -> "í", "oacute" -> "ó", "uacute" -> "ú")

  /** Tokenizer covering the WHOLE string: each position starts a decimal
    * reference, a hex reference, a named reference, a lone `&`, or a
    * non-`&` run — so rejoining the transformed pieces reconstructs the
    * string exactly. RE2-safe (no lookaround/backreferences); an
    * unterminated or malformed reference falls through to the lone-`&`
    * branch and survives verbatim.
    */
  val EntityPattern: String =
    "&#[0-9]{1,7};|&#[xX][0-9a-fA-F]{1,6};|&[a-zA-Z][a-zA-Z0-9]{1,31};|&|[^&]+"

  private val NbspShy = "\u00a0\u00ad"

  /** Decode HTML character references in visible text: numeric decimal
    * (`&#233;`) and hex (`&#xE9;`) for any valid scalar codepoint (the
    * codepoint's UTF-32BE bytes via `hex`/`unhex`/`decode` — all
    * codegen'd built-ins), plus the [[Entities]] named table; anything
    * malformed, out of range, or unknown stays verbatim. The decoded text
    * then normalizes U+00A0 → space and drops U+00AD (they render as
    * plain whitespace/nothing, and the density thresholds should see
    * that). Guarded by a cheap `contains('&')` so entity-free blocks (the
    * overwhelming majority) pay one codegen'd scan and skip the piecewise
    * pass entirely.
    */
  def decodeEntities(c: Column): Column = {
    val entityMap = map(Entities.flatMap { case (k, v) =>
      Seq(lit("&" + k + ";"), lit(v)) }: _*)
    def valid(cp: Column): Column =
      cp >= 1L && cp <= 1114111L && !(cp >= 55296L && cp <= 57343L)
    def charOf(cp: Column): Column =
      decode(unhex(lpad(hex(cp), 8, "0")), "UTF-32")
    val decoded = transform(
      regexp_extract_all(c, lit(EntityPattern), lit(0)),
      p => {
        val decCp = p.substr(lit(3), length(p) - 3).cast("long")
        val hexCp = conv(p.substr(lit(4), length(p) - 4), 16, 10).cast("long")
        when(p.rlike("^&#[0-9]+;$"),
            when(valid(decCp), charOf(decCp)).otherwise(p))
          .when(p.rlike("^&#[xX][0-9a-fA-F]+;$"),
            when(valid(hexCp), charOf(hexCp)).otherwise(p))
          .otherwise(coalesce(element_at(entityMap, p), p))
      })
    when(c.contains("&"), translate(array_join(decoded, ""), NbspShy, " "))
      .otherwise(c)
  }

  /** [[decodeEntities]] as DuckDB SQL over the fragment `inner` — the
    * oracle spelling (same table, same RE2 pattern; DuckDB's full-Unicode
    * `chr` replaces the hex/unhex UTF-32 spelling).
    */
  def decodeEntitiesDuck(inner: String): String = {
    val whens = Entities.map { case (k, v) =>
      s"WHEN '&$k;' THEN '${v.replace("'", "''")}'" }.mkString(" ")
    val dec = "try_cast(substr(p, 3, len(p) - 3) AS BIGINT)"
    val hx = "try_cast('0x' || substr(p, 4, len(p) - 4) AS BIGINT)"
    def valid(cp: String) =
      s"($cp BETWEEN 1 AND 1114111 AND $cp NOT BETWEEN 55296 AND 57343)"
    def charOf(cp: String) = s"chr(CAST($cp AS INTEGER))"
    val d = "$"
    s"""CASE WHEN contains($inner, '&') THEN replace(replace(array_to_string(
       |    list_transform(regexp_extract_all($inner, '$EntityPattern', 0),
       |    p -> CASE
       |      WHEN regexp_matches(p, '^&#[0-9]+;$d') THEN
       |        CASE WHEN ${valid(dec)} THEN ${charOf(dec)} ELSE p END
       |      WHEN regexp_matches(p, '^&#[xX][0-9a-fA-F]+;$d') THEN
       |        CASE WHEN ${valid(hx)} THEN ${charOf(hx)} ELSE p END
       |      ELSE coalesce(CASE p $whens END, p) END),
       |  ''), chr(160), ' '), chr(173), '')
       |ELSE $inner END""".stripMargin
  }

  /** Segment html into candidate blocks: invisible content dropped,
    * block-tag boundaries → newline, split. Inline tags (`<a>`, `<b>`,
    * `<span>`…) stay inside their block for the density read.
    */
  def toBlocks(c: Column): Column =
    split(regexp_replace(dropInvisible(c),
      s"(?is)</?($BlockTags)[^>]*>", "\n"), "\n")

  /** One row per NON-EMPTY candidate block: (`idCol`, block_idx,
    * block_text, text_len, link_len) where `block_text` is the trimmed
    * visible text, `text_len` its length and `link_len` the total visible
    * chars inside the block's `<a>` elements. Tag-only / whitespace-only
    * segments are dropped here (they carry no content and are the most
    * common segment — every adjacent-tag boundary makes one).
    */
  def blocks(docs: DataFrame, idCol: String, htmlCol: String): DataFrame =
    // posexplode_outer + null filter (the MinHash.shingleRows dodge):
    // plain posexplode infers a size()>0 filter below the Generate with
    // the whole dropInvisible+segment regex chain inlined — an interpreted
    // Filter re-running it per doc. split output is never empty, so only
    // a null html row emits the null _raw the filter drops.
    docs.select(col(idCol),
        posexplode_outer(toBlocks(col(htmlCol))).as(Seq("block_idx", "_raw")))
      .filter(col("_raw").isNotNull)
      .withColumn("block_text", trim(decodeEntities(stripTags(col("_raw")))))
      .filter(length(col("block_text")) > 0)
      .withColumn("text_len", length(col("block_text")))
      .withColumn("link_len", coalesce(aggregate(
        transform(
          regexp_extract_all(col("_raw"), lit("(?is)<a[^>]*>(.*?)</a>"), lit(1)),
          a => length(trim(decodeEntities(stripTags(a))))),
        lit(0), (acc, x) => acc + x), lit(0)))
      .select(col(idCol), col("block_idx"), col("block_text"),
        col("text_len"), col("link_len"))

  /** Visible markup with every href NORMALIZED onto the double-quoted
    * spelling: real crawls use all three legal forms, and
    * regexp_extract_all returns ONE group index, so the single- and
    * un-quoted forms rewrite first (the unquoted alternation's first
    * char excludes quotes, so already-quoted values never re-wrap).
    */
  private def normalizedAnchors(htmlCol: String): Column =
    regexp_replace(
      regexp_replace(dropInvisible(col(htmlCol)),
        "(?is)(<a\\s(?:[^>]*\\s)?href\\s*=\\s*)'([^']*)'", "$1\"$2\""),
      "(?is)(<a\\s(?:[^>]*\\s)?href\\s*=\\s*)([^\"'\\s>][^\\s>]*)", "$1\"$2\"")

  /** Anchor targets the page actually links to: one row per `<a href>` in
    * VISIBLE markup — (`idCol`, src_host, href, target_url, target_host)
    * where `href` is the raw attribute value, `target_url` its resolved
    * ([[Urls.resolve]] against `baseCol`) and canonicalized
    * ([[Urls.canonicalize]]) form, and the hosts come from
    * [[Urls.domain]]. Script/style content is dropped FIRST (an href
    * inside `<script>` is string data, not a link), and non-http(s)
    * targets (`mailto:`, `javascript:`, `tel:`…) are filtered AFTER
    * resolution — on the resolved scheme, so a page linking `//evil.io/x`
    * still counts under its base's scheme.
    *
    * Scan-shaped: one regexp pass + a per-row explode of a page-bounded
    * anchor list, every downstream column a codegen'd projection — the
    * link-graph intake step (host-graph edges, anchor-text priors,
    * Common-Crawl-style host ranking) runs at crawl throughput with zero
    * shuffle until the caller aggregates.
    */
  def links(docs: DataFrame, idCol: String, htmlCol: String,
      baseCol: String): DataFrame = {
    val normalized = normalizedAnchors(htmlCol)
    // explode_outer + null filter (the MinHash.shingleRows dodge): plain
    // explode infers a size()>0 filter inlining the whole normalize+
    // extract regex chain — re-run per doc in an interpreted Filter.
    // Extracted groups are strings, never null.
    docs.select(col(idCol),
        graft.text.Urls.domain(graft.text.Urls.canonicalize(col(baseCol)))
          .as("src_host"),
        col(baseCol).as("_base"),
        explode_outer(regexp_extract_all(normalized,
          lit("(?is)<a\\s(?:[^>]*\\s)?href\\s*=\\s*\"([^\"]*)\""), lit(1)))
          .as("href"))
      .filter(col("href").isNotNull)
      .withColumn("target_url", graft.text.Urls.canonicalize(
        graft.text.Urls.resolve(col("_base"), col("href"))))
      .filter(col("target_url").rlike("^https?://"))
      .select(col(idCol), col("src_host"), col("href"), col("target_url"),
        graft.text.Urls.domain(col("target_url")).as("target_host"))
  }

  /** The host-level link graph (q105) of a [[links]] frame: one row per
    * cross-host edge (src_host, target_host, n_links, n_docs). Self-host
    * links (intra-site navigation) drop; the rollup is one bounded
    * groupBy over host pairs, never doc pairs.
    */
  def hostEdges(links: DataFrame, idCol: String): DataFrame =
    links.filter(col("target_host") =!= col("src_host"))
      .groupBy(col("src_host"), col("target_host"))
      .agg(count(lit(1)).as("n_links"), countDistinct(col(idCol)).as("n_docs"))

  /** Anchor TEXT per link — the label signal [[links]] drops: what other
    * pages CALL a target is a classic retrieval-training / host-quality
    * feature (anchor-text corpora). One row per WELL-FORMED visible
    * anchor — `<a …href…>text</a>` with a closing tag and no nested
    * anchor-open inside the span (the negative lookahead means an
    * UNCLOSED anchor can never swallow its well-formed neighbor — it
    * simply yields no text row, while [[links]] still counts its href). Columns: (idCol, src_host, href, anchor_text,
    * target_url, target_host) — `anchor_text` is the tag-stripped
    * trimmed inner text (inline markup like `<b>` inside the anchor
    * contributes its text). Same normalization, resolution,
    * canonicalization, and non-http filter as [[links]]; same
    * scan-shaped cost (one more regexp pass + two per-element extracts).
    */
  def anchorTexts(docs: DataFrame, idCol: String, htmlCol: String,
      baseCol: String): DataFrame =
    // explode_outer + null filter — same rationale as [[links]].
    docs.select(col(idCol),
        graft.text.Urls.domain(graft.text.Urls.canonicalize(col(baseCol)))
          .as("src_host"),
        col(baseCol).as("_base"),
        explode_outer(regexp_extract_all(normalizedAnchors(htmlCol),
          lit("(?is)<a\\s(?:[^>]*\\s)?href\\s*=\\s*\"[^\"]*\"[^>]*>" +
            "(?:(?!<a[\\s>]).)*?</a>"), lit(0)))
          .as("_a"))
      .filter(col("_a").isNotNull)
      .withColumn("href", regexp_extract(col("_a"),
        "(?is)<a\\s(?:[^>]*\\s)?href\\s*=\\s*\"([^\"]*)\"", 1))
      .withColumn("anchor_text", trim(decodeEntities(stripTags(col("_a")))))
      .withColumn("target_url", graft.text.Urls.canonicalize(
        graft.text.Urls.resolve(col("_base"), col("href"))))
      .filter(col("target_url").rlike("^https?://"))
      .select(col(idCol), col("src_host"), col("href"), col("anchor_text"),
        col("target_url"),
        graft.text.Urls.domain(col("target_url")).as("target_host"))

  /** Main-text extraction rollup: one row per input document —
    * (`idCol`, n_blocks, n_kept, kept_chars, main_text) where a block is
    * kept iff `text_len >= minLen` AND `link_len·100 <= text_len·
    * maxLinkPct` (integer-exact, no float compare), and `main_text` joins
    * kept blocks by newline in document order. Documents with no candidate
    * blocks (or none kept) report 0 counts and the empty string.
    */
  def mainText(docs: DataFrame, idCol: String, htmlCol: String,
      minLen: Int = 10, maxLinkPct: Int = 20): DataFrame = {
    val b = blocks(docs, idCol, htmlCol)
      .withColumn("_keep", col("text_len") >= minLen &&
        col("link_len") * 100 <= col("text_len") * maxLinkPct)
    // collect_list skips the when()'s nulls; sort restores document order
    // (per-doc bounded — the LineDedup.rollup reassembly discipline).
    val roll = b.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("_keep"), col("text_len")).otherwise(0L)).as("kept_chars"),
        array_sort(collect_list(
          when(col("_keep"), struct(col("block_idx"), col("block_text")))))
          .as("_kb"))
    docs.select(col(idCol))
      .join(roll, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_chars"), lit(0L)).as("kept_chars"),
        coalesce(concat_ws("\n",
          transform(col("_kb"), _.getField("block_text"))), lit(""))
          .as("main_text"))
  }
}
