package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * URL canonicalization + URL-level dedup — the first dedup stage of a
 * web-corpus pipeline (CCNet/RefinedWeb shape: normalize the URL, keep one
 * document per canonical URL, before any content-level dedup runs).
 *
 * Canonical form (engine policy, deterministic):
 *   - scheme and host lowercased (path/query case PRESERVED — paths are
 *     case-sensitive);
 *   - leading `www.` stripped from the host;
 *   - default ports stripped (`:443` for https, `:80` for http; other
 *     ports kept);
 *   - fragment (`#…`) dropped;
 *   - tracking query params dropped (`utm_*`, `fbclid`, `gclid`, `ref`),
 *     remaining params sorted bytewise and re-joined with `&`;
 *   - trailing slash stripped from a non-root path; empty path becomes `/`.
 *
 * All pure Catalyst (regexp + array ops in one codegen'd scan — the
 * `filter`/`array_sort` lambdas run over the handful of query params of ONE
 * url, not over data-scale arrays). Scale of [[urlDedup]]: the shuffle
 * carries (id, canonical url) only — html/text never ride it; min/count
 * pre-aggregate map-side, and the representative join-back is ids-only on
 * the canonical-url key (a viral URL's group stays bounded by its dup
 * count; AQE skew-split applies).
 */
object UrlOps {

  /** Tracking query params stripped by [[canonicalize]] (`k=v` regex). */
  val TrackingParamPattern = "^(utm_[A-Za-z0-9_]+|fbclid|gclid|ref)="

  def canonicalize(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val host0 = regexp_replace(hostPort, "^www\\.", "")
    val host = when(scheme === "https", regexp_replace(host0, ":443$", ""))
      .when(scheme === "http", regexp_replace(host0, ":80$", ""))
      .otherwise(host0)
    // path+query with the fragment dropped; then split at '?'
    val afterHost = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    val path0 = regexp_extract(afterHost, "^([^?]*)", 1)
    val path = when(path0 === "" || path0 === "/", lit("/"))
      .otherwise(regexp_replace(path0, "/$", ""))
    val query0 = regexp_extract(afterHost, "\\?([^#]*)", 1)
    val params = filter(split(query0, "&"),
      p => !(p.rlike(TrackingParamPattern) || p === ""))
    val q = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host, path,
      when(length(q) > 0, concat(lit("?"), q)).otherwise(lit("")))
  }

  /**
   * URL-level dedup: one row per input page with its canonical URL, a
   * `keep` flag (true for the minimum id of each canonical-URL group — the
   * deterministic representative) and the group's `dup_cnt`.
   */
  def urlDedup(pages: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val canon = pages.select(col(idCol), canonicalize(col(urlCol)).as("canonical_url"))
    val g = canon.groupBy("canonical_url")
      .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("dup_cnt"))
    canon.join(g, Seq("canonical_url"))
      .select(col(idCol), col("canonical_url"),
        (col(idCol) === col("__rep")).as("keep"), col("dup_cnt"))
  }
}
