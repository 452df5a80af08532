package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.FrameScope

import graft.functions.XPathExtractExpression.extractXpath

/** sitemaps.org discovery with `<sitemapindex>` recursion — the missing
  * half of x03's `<urlset>` parse: real sites over 50k URLs publish an
  * INDEX whose `<sitemap><loc>` entries point at child sitemaps (robots'
  * `Sitemap:` directive usually names the index). Children may
  * themselves be indexes (the spec forbids it, crawlers tolerate it), so
  * expansion is bounded-depth.
  *
  * Model: resolution is a LOOKUP, not a fetch — `docs` is the corpus of
  * already-fetched sitemap documents (url, xml), exactly what
  * [[graft.crawl.Fetch]] produces from a sitemap frontier; an index
  * entry whose child was never fetched simply contributes nothing (feed
  * the child urls back into the next fetch frontier).
  *
  * Scale shape — the corpus is DOM-parsed exactly TWICE, independent of
  * depth: one fused CLASSIFICATION pass (index flag + child urls, lazily
  * checkpointed into url-table-sized blocks — the checkpoint doubles as
  * an optimizer barrier that keeps the fused parse from being torn into
  * per-consumer extractions by filter pushdown), and one ENTRY pass over
  * reachable urlset documents only. Reachability from the roots iterates
  * over the checkpointed link table (maxDepth equi-joins of url pairs —
  * no re-parsing per round, no corpus-sized cache residue; the naive
  * round-chained formulation re-parsed the full corpus once per depth
  * per consumer, or parked corpus-scale fragment blocks in storage).
  * Entry parsing rides the same document parse: each `<url>` node's
  * space-joined text is "loc [lastmod] [...]" by the sitemaps.org XSD's
  * xs:sequence child order, and shape validation (URL-scheme / W3C-date
  * regexes) keeps missing-field entries from mis-pairing — the x03
  * alignment trap, solved for VARIABLE entry counts without the
  * per-fragment DOM re-parse that used to be half the operator's cost.
  *
  * Storage discipline: the result is EAGERLY materialized and the
  * classification checkpoint released before `expand` returns — the
  * operator leaves no storage residue beyond its own (metadata-sized)
  * result, pinned by SitemapsSpec's residue test. */
object Sitemaps {

  private val Ns = Map("sm" -> "http://www.sitemaps.org/schemas/sitemap/0.9")

  /** Page entries of one sitemap corpus, indexes resolved.
    *
    * @param roots    frame with `url` — the sitemap urls to start from
    *                 (robots `Sitemap:` directives, t49's output shape)
    * @param docs     fetched sitemap documents: `url`, `xml`
    * @param maxDepth resolution rounds; an index nested deeper than this
    *                 is left unexpanded (cycles terminate for free)
    * @return (root, sitemap, loc, lastmod) — `root` the starting url,
    *         `sitemap` the urlset that contributed the entry, `lastmod`
    *         null when the entry carries none. A (root, sitemap) pair
    *         reachable along several index paths contributes its entries
    *         ONCE (crawler semantics, not per-path multiplicity).
    */
  def expand(roots: DataFrame, docs: DataFrame, maxDepth: Int = 3): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    FrameScope(docs.sparkSession) { s =>
      val corpus = docs.select(col("url").as("sitemap"), col("xml"))
      // classification pass: both whole-document extractions in ONE select
      // so the fusion rule batches them into a single DOM parse, and the
      // LAZY CHECKPOINT doubles as an optimizer barrier — without it,
      // Catalyst pushes the `_is_index` filters below this project as
      // standalone extract_xpath predicates, un-fusing the parse into one
      // per consumer (measured ~3× the runtime). Checkpoint blocks are
      // (url, bool, url-array) rows — never document bytes or entry
      // fragments, so the residue stays url-table-sized at any corpus.
      val classified = s.checkpoint(corpus.select(col("sitemap"),
        (size(extractXpath(col("xml"), "/sm:sitemapindex", Ns)) > 0)
          .as("_is_index"),
        extractXpath(col("xml"), "/sm:sitemapindex/sm:sitemap/sm:loc", Ns)
          .as("_children")))
      val links = classified.filter(col("_is_index"))
        .select(col("sitemap").as("_parent"),
          explode(col("_children")).as("_child"))
      // reachability over the link table only: depth-k frontier joins cost
      // url-pair shuffles, no parsing
      var frontier = roots.select(col("url").as("root"),
        col("url").as("sitemap")).distinct()
      val reach = Seq.newBuilder[DataFrame]
      reach += frontier
      for (_ <- 1 until maxDepth) {
        frontier = frontier
          .join(links, col("sitemap") === col("_parent"))
          .select(col("root"), col("_child").as("sitemap"))
          .distinct()
        reach += frontier
      }
      val reachable = reach.result().reduce(_ unionByName _)
        .distinct() // a diamond/cycle reaches a sitemap once, not per path
      // entry pass: parse ONLY reachable non-index documents — the second
      // and last time any document's bytes are parsed. MERGE hints: the
      // corpus-derived sides carry xml/derived rows whose size Catalyst
      // underestimates (synthesized strings vs parquet stats), and letting
      // them broadcast serializes corpus-scale relation builds through the
      // driver (measured 9× the wall at 10× data). Shuffling sitemap xml
      // ONCE is the scale shape — sitemaps are crawl METADATA, a sliver of
      // corpus bytes, and the entry parse consumes them right after.
      val lazyOut = reachable
        .join(classified.filter(!col("_is_index")).select(col("sitemap"))
          .hint("merge"), Seq("sitemap"), "left_semi")
        .join(corpus.hint("merge"), Seq("sitemap"))
        .select(col("root"), col("sitemap"),
          // to_text of each <url> node: the sitemaps.org XSD declares the
          // children as an xs:sequence (loc, lastmod, changefreq,
          // priority), so the space-joined descendant text is
          // "loc [lastmod] [...]" — ONE document parse yields every
          // entry, no per-fragment DOM re-parse (which was ~half the
          // operator's cost). Shape-validated below, so a malformed entry
          // degrades to a dropped row, never a mis-pairing: locs must
          // look like absolute URLs, lastmod like a W3C datetime —
          // changefreq/priority tokens match neither.
          explode(extractXpath(col("xml"), "/sm:urlset/sm:url", Ns))
            .as("entry"))
        .select(col("root"), col("sitemap"),
          split(col("entry"), " ").as("_toks"))
        .select(col("root"), col("sitemap"),
          when(element_at(col("_toks"), 1)
              .rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"),
            element_at(col("_toks"), 1)).as("loc"),
          when(size(col("_toks")) >= 2 &&
              element_at(col("_toks"), 2).rlike("^\\d{4}-\\d{2}-\\d{2}"),
            element_at(col("_toks"), 2)).as("lastmod"))
        .filter(col("loc").isNotNull)
      // EAGER final materialization: the one action fills classified's
      // blocks, every consumer (link table, non-index semi, entry parse)
      // reads them inside the same job, and the scope then frees them.
      // The operator's only residue is its own result — (root, sitemap,
      // loc, lastmod) rows, crawl METADATA at a sliver of corpus bytes —
      // reclaimed when the caller drops the frame.
      lazyOut.localCheckpoint(true)
    }
  }
}
