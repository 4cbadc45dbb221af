"""Hyperlink anchor extraction with offset rebasing (operator F4) and the
main-entity weak-label join (operator J5).

Reference F4 (/root/reference/src/refined/offline_data_generation/
merge_files_and_extract_links.py:52-68): regex-scan the wiki-extractor
output for <a href="URI">surface</a> tags, record each anchor's character
offset in the TAG-STRIPPED text by subtracting the cumulative length of
all markup seen so far (delta_string_length), then strip the tags.

Spark shape — no Python in the path:
  - split(text, TAG_RE) gives the non-anchor segments (Java split drops
    the delimiter, capture groups and all);
  - regexp_extract_all gives the per-anchor uri/surface arrays;
  - the rebased start of anchor i is
        sum(len(seg_0..i)) + sum(len(surface_0..i-1))
    — two prefix sums over a posexplode, i.e. one window over
    (doc, anchor_pos). The window shuffles on doc_id, so skew follows
    document size (bounded), never entity popularity.
  - clean text = regexp_replace(tag -> surface), rstrip newlines.

URI canonicalization mirrors process_line (merge_files_and_extract_links
.py:69-77): percent-decode, space->underscore, HTML-entity unescape,
uppercase first letter — then one redirect hop + title->qcode via
sources.dumps.title_with_redirects (J2/J3).

Reference J5 (/root/reference/src/refined/dataset_reading/entity_linking/
wikipedia_dataset.py:226-274, merge_in_main_entity_mentions): a Wikipedia
page's OWN entity labels its unlinked mentions — md spans whose text
(minus possessive) matches the page entity's label (or, for humans, any
single name token), plus the span at offset 0, get the page qcode as a
weak gold label; hyperlink spans win on overlap (merge_spans J6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from refined_spark.functions.normalize import title_to_key_col
from refined_spark.operators.spans import merge_spans_overlap
from refined_spark.sources.dumps import title_with_redirects

ANCHOR_RE = r'<a href="([^"]+)">([^<]+)</a>'


def strip_anchor_tags(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The rebased (tag-free) text — what the anchor offsets index into.
    Trailing newlines stripped like the reference's rstrip('\\n')."""
    return docs.withColumn(
        text_col,
        F.regexp_replace(
            F.regexp_replace(text_col, ANCHOR_RE, "$2"), r"\n+$", ""
        ),
    )


def extract_anchors(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """docs(doc_id, text-with-anchor-tags) -> one row per anchor:
    (doc_id, uri, surface_form, start, end) with start/end rebased into the
    tag-stripped text. Pure built-in expressions + one per-doc window."""
    parts = docs.select(
        "doc_id",
        F.split(text_col, ANCHOR_RE).alias("segs"),
        F.regexp_extract_all(text_col, F.lit(ANCHOR_RE), 1).alias("uris"),
        F.regexp_extract_all(text_col, F.lit(ANCHOR_RE), 2).alias("surfs"),
    )
    ex = parts.select(
        "doc_id",
        F.posexplode(F.arrays_zip("uris", "surfs")).alias("pos", "z"),
        F.col("segs"),
    ).select(
        "doc_id",
        "pos",
        F.col("z.uris").alias("uri"),
        F.col("z.surfs").alias("surface_form"),
        F.length(F.element_at("segs", F.col("pos") + 1)).alias("seg_len"),
        F.length(F.col("z.surfs")).alias("surf_len"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    start = (
        F.sum("seg_len").over(w) + F.sum("surf_len").over(w) - F.col("surf_len")
    )
    return ex.select(
        "doc_id",
        "uri",
        "surface_form",
        start.alias("start"),
        (start + F.col("surf_len")).alias("end"),
    )


def clean_anchor_links(
    anchors: DataFrame,
    redirects: DataFrame,
    wiki_to_qcode: DataFrame,
    disambiguation_qcodes: DataFrame | None = None,
) -> DataFrame:
    """URI -> qcode (merge_files_and_extract_links.py:69-84): percent-
    decode, space->underscore, entity-unescape + first-letter-uppercase,
    one redirect hop, title->qcode; disambiguation pages dropped. Rows
    whose title cannot be mapped are dropped (the reference's
    clean_hyperlinks keeps only mapped links)."""
    titled = anchors.withColumn(
        "title",
        title_to_key_col(
            F.replace(F.url_decode("uri"), F.lit(" "), F.lit("_"))
        ),
    )
    mapped = title_with_redirects(titled, redirects, wiki_to_qcode,
                                  title_col="title")
    out = mapped.where(F.col("qcode").isNotNull())
    if disambiguation_qcodes is not None:
        out = out.join(
            F.broadcast(disambiguation_qcodes.select("qcode")),
            "qcode", "left_anti",
        )
    return out.select("doc_id", "title", "surface_form", "start", "end", "qcode")


def weak_label_main_entity(
    pages: DataFrame,
    md_spans: DataFrame,
    hyperlink_spans: DataFrame,
    redirects: DataFrame,
    wiki_to_qcode: DataFrame,
    entity_meta: DataFrame,
    human_qcodes: DataFrame,
) -> DataFrame:
    """J5: pages(doc_id, title) + md_spans(doc_id, start, ln, text) +
    hyperlink_spans(doc_id, start, ln, qcode) -> labeled spans where md
    spans matching the page's main entity get its qcode; hyperlinks win on
    overlap. Plan: two dimension joins (title->qcode, qcode->label), one
    per-doc window for the offset-0 rule, one interval anti-join (J6).

    md spans pass through correct_spans (P5) first, mirroring the
    reference's correct_spans(md_spans) call at wikipedia_dataset.py:256."""
    from refined_spark.operators.spans import correct_spans

    md_spans = correct_spans(md_spans)
    humans = human_qcodes.select("qcode").withColumn("is_human", F.lit(True))
    main = (
        title_with_redirects(pages, redirects, wiki_to_qcode, title_col="title")
        .where(F.col("qcode").isNotNull())
        .join(entity_meta.select("qcode", "label"), "qcode")
        .withColumn("main_label", F.replace("label", F.lit("'s"), F.lit("")))
        .where(F.length("main_label") > 2)
        .join(F.broadcast(humans), "qcode", "left")
        .withColumn(
            # humans match on any single name token too ("Joe", "Biden"
            # for "Joe Biden" — wikipedia_dataset.py:248-252)
            "labels",
            F.when(
                F.coalesce("is_human", F.lit(False)),
                F.array_union(
                    F.split("main_label", " "), F.array(F.col("main_label"))
                ),
            ).otherwise(F.array(F.col("main_label"))),
        )
        .select("doc_id", F.col("qcode").alias("main_qcode"), "labels")
    )

    md = md_spans.join(main, "doc_id")
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy("start", "ln")
    )
    flagged = md.withColumn("rn", rn)
    main_spans = flagged.where(
        ((F.col("rn") == 1) & (F.col("start") == 0))
        | (
            F.array_contains(
                "labels", F.replace("text", F.lit("'s"), F.lit(""))
            )
            & (F.col("start") != 0)
        )
    ).select(
        "doc_id", "start", "ln", "text", F.col("main_qcode").alias("qcode")
    )
    return merge_spans_overlap(hyperlink_spans, main_spans)
