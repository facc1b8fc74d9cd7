"""The capture document model: one typed row per (URL × timestamp) capture.

This is the engine's equivalent of the reference's ``SolrRecord`` document —
the field catalog comes from
``warc-indexer/src/main/java/uk/bl/wa/solr/SolrFields.java:33-155`` with
types from ``warc-indexer/src/main/solr/solr7/discovery/conf/schema.xml:26-366``
(``multiValued="true"`` → ``array<...>``); per-field write-time constraints
mirror ``SolrRecordFactory.java:51-130`` (URL-ish fields truncated to 2000
chars, extracted text capped at 512 KiB, control characters stripped,
whitespace normalised).

``extract_capture`` is the projection from the WARC record scan
(``sources/warc.py``) into this schema — pure Column expressions plus the
engine's existing Arrow kernels (canonicalization, SURT) — the analog of
``WARCIndexer.extract()``'s field-filling
(``WARCIndexer.java:300-546,593-639``).  Fields whose analysers are out of
scope (Tika/DROID deep typing, EXIF, faces, sentiment models, WCT/Archive-It
metadata) are declared with their correct types and left NULL, so the query
surface (faceting columns) is complete and stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .functions import dates as date_fns
from .functions import mime as mime_fns
from .functions.udfs import (
    canonical_struct_udf,
    host_surts_udf,
    private_suffix_udf,
    public_suffix_udf,
    resolve_relative_udf,
)
from .operators.record_filters import url_type_expr
from .session import column_memo

__all__ = [
    "CAPTURE_SCHEMA",
    "FIELD_MAX_LENGTH",
    "URL_MAX_LENGTH",
    "CONTENT_MAX_LENGTH",
    "adjusted",
    "extract_capture",
]

URL_MAX_LENGTH = 2000          # SolrRecordFactory.DEFAULT_URL_MAX_LENGTH
CONTENT_MAX_LENGTH = 512 * 1024  # SolrRecordFactory.DEFAULT_CONTENT_MAX_LENGTH

#: per-field max_length overrides (SolrRecordFactory.handleLegacyAndDefaults)
FIELD_MAX_LENGTH = {
    "url": URL_MAX_LENGTH,
    "url_norm": URL_MAX_LENGTH,
    "links": URL_MAX_LENGTH,  # applied per value
    "content": CONTENT_MAX_LENGTH,
}

_S = StringType()
_SA = ArrayType(StringType())

CAPTURE_SCHEMA = StructType(
    [
        # identity / provenance
        StructField("id", _S, False),                    # wayback_date + "/" + b64(md5(url))
        StructField("id_long", LongType()),
        StructField("source_file", _S),
        StructField("source_file_offset", LongType()),
        StructField("source_file_path", _S),
        StructField("record_type", _S),
        StructField("warc_key_id", _S),
        StructField("warc_ip", _S),
        # URL family
        StructField("url", _S),
        StructField("url_norm", _S),
        StructField("url_path", _S),
        StructField("url_type", _S),
        StructField("resourcename", _S),
        StructField("redirect_to_norm", _S),
        StructField("referrer_url", _S),
        StructField("host", _S),
        StructField("host_surt", _SA),
        StructField("domain", _S),
        StructField("public_suffix", _S),
        # response envelope
        StructField("status_code", IntegerType()),
        StructField("server", _SA),
        StructField("generator", _SA),
        StructField("content_length", IntegerType()),
        StructField("hash", _S),
        StructField("hashes", _SA),
        # dates
        StructField("crawl_date", TimestampType()),
        StructField("crawl_dates", ArrayType(TimestampType())),
        StructField("crawl_year", IntegerType()),
        StructField("crawl_years", ArrayType(IntegerType())),
        StructField("wayback_date", LongType()),
        StructField("last_modified", TimestampType()),
        StructField("last_modified_year", _S),
        StructField("publication_date", TimestampType()),
        StructField("publication_year", _S),
        # content typing
        StructField("content_type", _S),
        StructField("content_type_norm", _S),
        StructField("content_type_full", _S),
        StructField("content_type_served", _S),
        StructField("content_type_tika", _S),
        StructField("content_type_droid", _S),
        StructField("content_type_ext", _S),
        StructField("content_type_version", _S),
        StructField("content_encoding", _S),
        StructField("content_language", _S),
        StructField("type", _S),
        StructField("content_ffb", _S),
        StructField("content_first_bytes", _S),
        StructField("xml_root_ns", _S),
        StructField("pdf_pdfa_is_valid", _S),
        StructField("pdf_pdfa_errors", _SA),
        # extracted text + metadata
        StructField("content", _S),
        StructField("content_text_length", IntegerType()),
        StructField("content_metadata", _S),
        StructField("title", _S),
        StructField("author", _SA),
        StructField("description", _S),
        StructField("keywords", _SA),
        StructField("comments", _SA),
        StructField("category", _S),
        # link graph
        StructField("links", _SA),
        StructField("links_images", _SA),
        StructField("links_hosts", _SA),
        StructField("links_hosts_surts", _SA),
        StructField("links_domains", _SA),
        StructField("links_public_suffixes", _SA),
        StructField("elements_used", _SA),
        StructField("license_url", _SA),
        # images
        StructField("image_width", LongType()),
        StructField("image_height", LongType()),
        StructField("image_size", LongType()),
        StructField("image_faces", _SA),
        StructField("image_faces_count", IntegerType()),
        StructField("image_colours", _SA),
        StructField("image_dominant_colour", _S),
        StructField("exif_version", _S),
        StructField("exif_location", _S),
        # text analysis extras
        StructField("postcode", _SA),
        StructField("postcode_district", _SA),
        StructField("locations", _SA),
        StructField("sentiment", _S),
        StructField("sentiment_score", FloatType()),
        StructField("ssdeep_hash_bs_3", _S),
        StructField("ssdeep_hash_bs_6", _S),
        # curation / collections
        StructField("access_terms", _SA),
        StructField("collection", _SA),
        StructField("collections", _SA),
        StructField("collection_id", _S),
        StructField("institution", _S),
        StructField("wct_subjects", _SA),
        # diagnostics
        StructField("parse_error", _SA),
    ]
)

_CONTROL_CHARS = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"


def adjusted(col: Column, field: str, is_text: bool = False) -> Column:
    """FieldAdjuster semantics (``SolrRecordFactory.createContentAdjuster``):
    strip control characters, optionally normalise whitespace runs, truncate
    to the field's ``max_length`` — as JVM expressions."""
    out = F.regexp_replace(col, _CONTROL_CHARS, "")
    if is_text:
        out = F.trim(F.regexp_replace(out, r"\s+", " "))
    max_len = FIELD_MAX_LENGTH.get(field)
    if max_len:
        out = F.substring(out, 1, max_len)
    return out


def _payload_head_hex(has_raw_head: bool = True) -> Column:
    """Lowercase hex of the first 32 RAW payload bytes (``payload_head``,
    captured by the archive source before text decoding — binary magics like
    ff d8 ff e0 survive; FirstBytesAnalyser.java:84-98, num_bytes default
    reference.conf:68).  Falls back to the UTF-8 bytes of the bounded text
    column when the raw head is null or the input frame predates the
    ``payload_head`` column."""
    text_head = F.substring(F.encode(F.col("payload"), "utf-8"), 1, 32)
    head = (
        F.coalesce(F.col("payload_head"), text_head) if has_raw_head else text_head
    )
    return F.lower(F.hex(head))


def _null(field: StructField) -> Column:
    return F.lit(None).cast(field.dataType).alias(field.name)


def extract_capture(
    records: DataFrame,
    with_links: bool = False,
    with_metadata: bool = False,
    with_images: bool = False,
    with_preflight: bool = False,
) -> DataFrame:
    """Project a WARC record scan (``WARC_RECORD_SCHEMA``) into the full
    capture document.  One Arrow kernel pass (canonical URL + SURT key) plus
    codegen expressions; unanalysed fields are typed NULLs.

    ``with_links`` runs the HTML link analyser over the payload and fills the
    six ``links*`` fields (``HTMLAnalyser`` wiring); ``with_metadata`` runs
    the Tika-lite analyser and fills title/description/keywords/author/
    generator/content_encoding, replacing ``content`` with the tag-stripped
    extracted text.  ``with_images`` runs the image analyser
    (dims/dominant-colour/faces — the ``FaceDetectionAnalyser`` slot) over
    image-MIME records; it needs the raw ``payload_bytes`` column
    (``warc_records(..., keep_binary=True)``).  ``with_preflight`` runs the
    PDF/A preflight-lite validator over ``application/pdf`` records (the
    reference's config-keyed ``extractApachePreflightErrors`` —
    ``PDFAnalyser.java:63-77``) and fills ``pdf_pdfa_is_valid`` /
    ``pdf_pdfa_errors``; it also needs ``payload_bytes``.  Each adds
    exactly one more Arrow stage — the full WARCIndexer.extract() analog is then scan →
    vectorized kernels → one projection, still shuffle-free."""
    # expression-tree memo (r6): the ~90-field projection below costs
    # ~2,500 py4j round trips to build (~0.5 s driver time per query build);
    # every expression references input columns by NAME and depends only on
    # the analyser flags + head-column presence, so the whole set is built
    # once per flag combination (see the memo note in operators/textstats.py)
    E = _capture_exprs(
        with_links, with_metadata, with_images, with_preflight,
        "payload_head" in records.columns,
    )
    served = E["served"]

    base = records.withColumn("url_norm_struct", E["canon"]).withColumn(
        "url_norm", E["url_norm_adj"]
    )
    # analyser dispatch mime (served Content-Type wins) and the reference's
    # HTMLAnalyser.shouldProcess gate (HTMLAnalyser.java:94-100: text* or
    # application/xhtml+xml): the text kernels receive a NULLED payload for
    # non-matching records, so binary payloads (the majority of a real
    # crawl) cost one null check per batch instead of a regex parse of
    # lossily-decoded garbage — and no fields get fabricated from it
    if with_links or with_metadata:
        base = base.withColumn("_texty_payload", E["texty_payload"])
    if with_links:
        from .operators.links import extract_html_links

        base = extract_html_links(base, url_col="target_uri",
                                  html_col="_texty_payload")
    if with_metadata:
        from .operators.metadata import extract_html_metadata, extract_xml_root_ns

        base = extract_html_metadata(base, html_col="_texty_payload")
        base = base.withColumn("_served_mime", served)
        base = extract_xml_root_ns(base, payload_col="payload",
                                   mime_col="_served_mime")
    if with_images:
        if "payload_bytes" not in records.columns:
            raise ValueError(
                "with_images needs the raw payload_bytes column — read the "
                "archive with warc_records(..., keep_binary=True)"
            )
        from .operators.multimodal import image_analysis_struct_udf

        # MIME-gated like the text kernels: non-image rows ship a null into
        # the Arrow batch, not their payload bytes
        base = base.withColumn(
            "_img", image_analysis_struct_udf()(E["imagey"], served)
        )

    if with_preflight:
        if "payload_bytes" not in records.columns:
            raise ValueError(
                "with_preflight needs the raw payload_bytes column — read "
                "the archive with warc_records(..., keep_binary=True)"
            )
        from .functions.preflight import preflight_udf

        # the reference's shouldProcess gate (PDFAnalyser.java:70-77,
        # config-keyed extractApachePreflightErrors): only application/pdf
        # records reach the validator; everything else ships a null and
        # keeps NULL fields
        base = base.withColumn("_pf", preflight_udf()(E["pdfy"]))

    return base.select(*E["cols"])


@column_memo(maxsize=32)
def _capture_exprs(
    with_links: bool,
    with_metadata: bool,
    with_images: bool,
    with_preflight: bool,
    has_raw_head: bool,
) -> dict:
    """Memoized capture-model Column set (see extract_capture) — pure
    unresolved expressions keyed by the analyser flags and whether the scan
    carries a raw payload head."""
    canon = canonical_struct_udf(F.col("target_uri"))
    crawl_ts = F.to_timestamp(F.col("warc_date"))
    wayback = date_fns.wayback_date(crawl_ts)
    url_path = F.parse_url(F.col("target_uri"), F.lit("PATH"))
    host = F.parse_url(F.col("url_norm"), F.lit("HOST"))
    status = F.col("http_status").cast("int")
    text = adjusted(F.col("payload"), "content", is_text=True)
    served = F.coalesce(F.col("http_content_type"), F.col("content_type"))
    texty = served.startswith("text") | served.startswith("application/xhtml+xml")
    _head_hex = _payload_head_hex(has_raw_head=has_raw_head)

    filled: dict[str, Column] = {
        # the id's date component is the RAW header-date digits — a
        # truncated WARC-Date stays truncated (12 digits) while
        # crawl_date/wayback_date are padded to the full instant
        # (WARCIndexer.java:540-553, golden: WARCIndexerTest.testTruncatedTime)
        "id": date_fns.record_id(
            F.regexp_replace(F.col("warc_date"), "[^0-9]", ""),
            F.col("target_uri")),
        "source_file": F.col("source_file"),
        "source_file_offset": F.col("record_offset"),
        "record_type": F.col("record_type"),
        "warc_key_id": F.col("warc_record_id"),
        "url": adjusted(F.col("target_uri"), "url"),
        "url_norm": F.col("url_norm"),
        "url_path": url_path,
        "url_type": url_type_expr(url_path),
        "resourcename": F.element_at(F.split(url_path, "/"), -1),
        # WARCIndexer.java:735: resolveRelative(targetUrl, Location) on 3xx —
        # the kernel canonicalises the resolved URL (resolve_relative default)
        "redirect_to_norm": F.when(
            (status >= 300) & (status < 400) & F.col("redirect_location").isNotNull(),
            resolve_relative_udf(F.col("target_uri"), F.col("redirect_location")),
        ),
        "host": host,
        "host_surt": host_surts_udf(host),
        "domain": private_suffix_udf(host),
        "public_suffix": public_suffix_udf(host),
        "status_code": status,
        "content_length": F.col("content_length").cast("int"),
        "hash": F.col("payload_digest"),
        "crawl_date": crawl_ts,
        "crawl_dates": F.array(crawl_ts),
        "crawl_year": date_fns.crawl_year(crawl_ts).cast("int"),
        "crawl_years": F.array(date_fns.crawl_year(crawl_ts).cast("int")),
        "wayback_date": wayback.cast("long"),
        # served HTTP Content-Type wins over the WARC envelope type (the
        # reference resolves served/Tika before normalising)
        "content_type": F.coalesce(F.col("http_content_type"), F.col("content_type")),
        "content_type_norm": mime_fns.content_type_norm(
            F.coalesce(F.col("http_content_type"), F.col("content_type"))
        ),
        "content_type_full": F.coalesce(F.col("http_content_type"), F.col("content_type")),
        "content_type_served": F.col("http_content_type"),
        "server": F.when(F.col("http_server").isNotNull(), F.array(F.col("http_server"))),
        "content_type_ext": mime_fns.parse_extension(url_path),
        "content": text,
        "content_text_length": F.length(text).cast("int"),
        "parse_error": F.when(
            F.col("parse_error").isNotNull(), F.array(F.col("parse_error"))
        ),
        # FirstBytesAnalyser.java:84-98 — hex of the payload head (here from
        # the bounded decoded-text column's UTF-8 bytes; the raw-stream head
        # would come from the source unbounded): ffb = first 4 bytes,
        # first_bytes = space-separated hex pairs (lowercase), both only when
        # the payload has >= 4 bytes (reference skips shorter reads). The
        # substring is applied to the *encoded* bytes so multi-byte chars
        # cannot push the head past num_bytes=32 (reference.conf:68).
        "content_ffb": F.when(F.length(_head_hex) >= 8,
                              F.substring(_head_hex, 1, 8)),
        "content_first_bytes": F.when(
            F.length(_head_hex) >= 8,
            F.trim(F.regexp_replace(_head_hex, "(..)", "$1 ")),
        ),
    }
    if with_links:
        for name in ("links", "links_images", "links_hosts", "links_hosts_surts",
                     "links_domains", "links_public_suffixes", "elements_used",
                     "license_url"):
            filled[name] = F.col(name)
    if with_metadata:
        extracted = adjusted(F.col("text"), "content", is_text=True)
        filled.update(
            title=F.col("title"),
            description=F.col("description"),
            keywords=F.col("keywords"),
            author=F.when(F.col("author").isNotNull(), F.array(F.col("author"))),
            generator=F.when(F.col("generator").isNotNull(), F.array(F.col("generator"))),
            content_encoding=F.col("content_encoding"),
            content=extracted,
            content_text_length=F.col("content_text_length"),
            xml_root_ns=F.col("xml_root_ns"),
        )
    if with_images:
        for name in ("image_width", "image_height", "image_size",
                     "image_dominant_colour", "image_faces",
                     "image_faces_count"):
            filled[name] = F.col("_img")[name]
    if with_preflight:
        filled["pdf_pdfa_is_valid"] = F.col("_pf.pdf_pdfa_is_valid")
        filled["pdf_pdfa_errors"] = F.col("_pf.pdf_pdfa_errors")
    if with_links or with_metadata:
        # analyser refusals (scan-cost guard / parse deadline / exceptions)
        # join the multi-valued parse_error field, the reference's
        # SolrRecord.addParseException shape
        sources = [F.col("parse_error")]
        if with_links:
            sources.append(F.col("links_parse_error"))
        if with_metadata:
            sources.append(F.col("meta_parse_error"))
        _pe = F.filter(F.array(*sources), lambda x: x.isNotNull())
        filled["parse_error"] = F.when(F.size(_pe) > 0, _pe)
    cols = [
        filled[f.name].alias(f.name) if f.name in filled else _null(f)
        for f in CAPTURE_SCHEMA.fields
    ]
    return {
        "canon": canon,
        "url_norm_adj": adjusted(F.col("url_norm_struct.url_norm"), "url_norm"),
        "served": served,
        "texty_payload": F.when(texty, F.col("payload")),
        "imagey": F.when(served.startswith("image"), F.col("payload_bytes")),
        "pdfy": F.when(served.startswith("application/pdf"),
                       F.col("payload_bytes")),
        "cols": tuple(cols),
    }
