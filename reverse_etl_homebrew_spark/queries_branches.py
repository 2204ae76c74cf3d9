"""Branch/filter/remote-snapshot operator queries completing the
SURVEY.md §2 inventory: remote-search/get, lock-projection,
override-skip, ambiguity branches, three-tier composite cascade,
coalesce chains, json-coerce, drop-null-props, protected-drop, and
multimodal array/map column manipulation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .functions import scalars as SC
from .operators import joins as J
from .sources.catalog import load_table
from .queries import register


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


@register(
    "remote-search",
    sql="""
    SELECT c_custkey AS hubspot_id, c_name AS email, c_acctbal
    FROM customer
    WHERE c_mktsegment = 'BUILDING' AND c_nationkey = 5
    """,
)
def q_remote_search(spark, sf_dir):
    """Remote store search: conjunctive EQ property filters over the
    snapshot (HubSpot.search_contacts, main.py:460-468) — modeled as a
    filtered projection of the snapshot DataFrame."""
    c = _t(spark, sf_dir, "customer")
    return c.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_nationkey") == 5)
    ).select(
        F.col("c_custkey").alias("hubspot_id"),
        F.col("c_name").alias("email"),
        "c_acctbal",
    )


@register(
    "remote-get",
    sql="""
    SELECT c_custkey AS hubspot_id, c_name, c_mktsegment
    FROM customer WHERE c_custkey = 77 LIMIT 1
    """,
)
def q_remote_get(spark, sf_dir):
    """Fetch one remote object by id with column projection
    (HubSpot.get_contact, main.py:470-478)."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_custkey") == 77)
        .select(F.col("c_custkey").alias("hubspot_id"), "c_name", "c_mktsegment")
        .limit(1)
    )


@register(
    "ledger-watermark-read",
    sql="""
    SELECT ts AS high_watermark, event_id FROM events
    WHERE event_type = 'purchase'
    ORDER BY ts DESC, event_id DESC LIMIT 1
    """,
)
def q_ledger_watermark_read(spark, sf_dir):
    """Latest successful watermark: filter + ORDER BY ... DESC LIMIT 1
    (read_high_watermark, main.py:330-345) — events as the ledger,
    'purchase' as the success status."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(1)
        .select(F.col("ts").alias("high_watermark"), "event_id")
    )


@register(
    "dlq-attempt-read",
    sql="""
    SELECT l_orderkey AS natural_key,
           COALESCE(MAX(l_linenumber), 0) AS attempts
    FROM lineitem WHERE l_returnflag = 'R'
    GROUP BY l_orderkey
    """,
)
def q_dlq_attempt_read(spark, sf_dir):
    """IFNULL(MAX(attempt),0) per failing key under predicate
    (read_failure_attempts, main.py:404-420) — the scan/agg half of
    dlq-attempt-join."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return li.groupBy(F.col("l_orderkey").alias("natural_key")).agg(
        F.coalesce(F.max("l_linenumber"), F.lit(0)).alias("attempts")
    )


@register(
    "coalesce-chain",
    sql="""
    SELECT c_custkey,
           COALESCE(CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_name END,
                    CASE WHEN c_custkey % 5 = 0 THEN NULL
                         ELSE CONCAT('pref_', c_name) END,
                    'unknown') AS display_name
    FROM customer
    """,
)
def q_coalesce_chain(spark, sf_dir):
    """First-non-null across alternate columns (preferred/legal name
    chains, main.py:574-577, 586, 597)."""
    c = _t(spark, sf_dir, "customer")
    primary = F.when(F.col("c_custkey") % 3 == 0, F.lit(None)).otherwise(F.col("c_name"))
    preferred = F.when(F.col("c_custkey") % 5 == 0, F.lit(None)).otherwise(
        F.concat(F.lit("pref_"), F.col("c_name"))
    )
    return c.select(
        "c_custkey",
        SC.coalesce_first(primary, preferred, F.lit("unknown")).alias("display_name"),
    )


@register(
    "json-coerce",
    sql="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_float,
           strftime(timezone('America/New_York', timezone('UTC', o_orderdate)),
                    '%Y-%m-%dT%H:%M:%S') AS eastern_iso,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS date_iso
    FROM orders
    """,
)
def q_json_coerce(spark, sf_dir):
    """JSON-safe scalar coercion (clean_value, main.py:103-112):
    Decimal→float, naive-UTC timestamp→Eastern ISO string, date→ISO."""
    from .operators.aggregates import finite_dec_typed

    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        finite_dec_typed(F.col("o_totalprice"), "decimal(18,2)")
        .cast("double")
        .alias("price_float"),
        F.date_format(
            F.convert_timezone(F.lit("UTC"), F.lit("America/New_York"), F.col("o_orderdate")),
            "yyyy-MM-dd'T'HH:mm:ss",
        ).alias("eastern_iso"),
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias("date_iso"),
    )


@register(
    "drop-null-props",
    sql="""
    SELECT o_orderkey,
           NULLIF(o_orderpriority, '') AS priority,
           NULLIF(CASE WHEN o_orderkey % 4 = 0 THEN '' ELSE o_orderstatus END, '')
             AS status,
           (NULLIF(o_orderpriority, '') IS NOT NULL)::BIGINT
             + (NULLIF(CASE WHEN o_orderkey % 4 = 0 THEN ''
                            ELSE o_orderstatus END, '') IS NOT NULL)::BIGINT
             AS props_kept
    FROM orders
    """,
)
def q_drop_null_props(spark, sf_dir):
    """Blank/None property dropping before write (main.py:610, 656):
    ''→NULL per column plus a kept-property count."""
    o = _t(spark, sf_dir, "orders")
    status_raw = F.when(F.col("o_orderkey") % 4 == 0, F.lit("")).otherwise(
        F.col("o_orderstatus")
    )
    prio = SC.blank_to_null(F.col("o_orderpriority"))
    status = SC.blank_to_null(status_raw)
    return o.select(
        "o_orderkey",
        prio.alias("priority"),
        status.alias("status"),
        (prio.isNotNull().cast("long") + status.isNotNull().cast("long")).alias(
            "props_kept"
        ),
    )


@register(
    "protected-drop",
    sql="""
    SELECT o_orderkey, o_custkey, o_orderdate FROM orders
    """,
)
def q_protected_drop(spark, sf_dir):
    """Protected-property exclusion (ROI_PROTECTED_PROPERTIES,
    main.py:61-63, 657-658): configured columns never reach the write
    payload.

    Implemented as an ALLOWLIST projection, not a denylist drop (r12
    schema-drift probe finding): ``df.drop(names)`` silently PASSES a
    protected column that arrives under an alias spelling — the probe
    planted o_orderpriority→orderpriority and the drop leaked the
    renamed values straight into the payload. A write payload is
    deny-by-default: project exactly the known-safe columns, so an
    unknown or re-spelled column never flows out, and the narrower
    ReadSchema (protected columns never scanned) is a guarantee of
    the projection instead of a side effect of the drop."""
    allowed = ["o_orderkey", "o_custkey", "o_orderdate"]
    return _t(spark, sf_dir, "orders").select(*allowed)


@register(
    "const-columns",
    sql="""
    SELECT c_custkey, 'customer' AS lifecyclestage, 'true' AS amd_synced,
           42 AS batch_no
    FROM customer
    """,
)
def q_const_columns(spark, sf_dir):
    """Literal constant columns (main.py:603, 606)."""
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.lit("customer").alias("lifecyclestage"),
        F.lit("true").alias("amd_synced"),
        F.lit(42).alias("batch_no"),
    )


@register(
    "watermark-filter",
    sql="""
    SELECT o_orderkey, o_orderdate FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    """,
)
def q_watermark_filter(spark, sf_dir):
    """The bare incremental predicate (main.py:537-538) — pushed into
    the parquet scan (PushedFilters)."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00"))
        .select("o_orderkey", "o_orderdate")
    )


@register(
    "override-skip",
    sql="""
    WITH snapshot AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 13 = 0 THEN 'TRUE' ELSE 'false' END AS roi_manual_override
      FROM orders WHERE o_orderkey % 7 = 0 OR o_orderkey % 13 = 0
    )
    SELECT CASE WHEN LOWER(roi_manual_override) = 'true' THEN 'skip' ELSE 'write' END
             AS branch,
           COUNT(*) AS n
    FROM orders LEFT JOIN snapshot ON o_orderkey = k
    GROUP BY 1
    """,
)
def q_override_skip(spark, sf_dir):
    """Manual-override lock: existing remote rows flagged 'true'
    (case-insensitive) are never rewritten (main.py:777-785)."""
    o = _t(spark, sf_dir, "orders")
    snapshot = o.filter((F.col("o_orderkey") % 7 == 0) | (F.col("o_orderkey") % 13 == 0)).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("TRUE"))
        .otherwise(F.lit("false"))
        .alias("roi_manual_override"),
    )
    # remote snapshot is CRM-sized at production — AQE decides
    joined = o.join(snapshot, o.o_orderkey == snapshot.k, "left")
    branch = F.when(F.lower(F.col("roi_manual_override")) == "true", "skip").otherwise(
        "write"
    )
    return joined.select(branch.alias("branch")).groupBy("branch").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "lock-projection",
    sql="""
    WITH base AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 6 = 0 THEN 'true' ELSE 'false' END AS locked
      FROM customer
    )
    SELECT c_custkey,
           CASE WHEN locked = 'true' THEN NULL
                ELSE CAST(c_custkey AS VARCHAR) END AS patient_id,
           CASE WHEN locked = 'true' THEN NULL
                ELSE CONCAT('CH', CAST(c_custkey AS VARCHAR)) END AS patient_chart,
           'true' AS amd_synced
    FROM base
    """,
)
def q_lock_projection(spark, sf_dir):
    """Field-level write protection (main.py:675-687; README.md:156-157):
    when the matched contact is locked (amd_synced='true'), identity
    fields are dropped from the update; otherwise the lock is set."""
    c = _t(spark, sf_dir, "customer")
    locked = F.when(F.col("c_custkey") % 6 == 0, F.lit("true")).otherwise("false")
    base = c.select("c_custkey", locked.alias("locked"))
    is_locked = F.col("locked") == "true"
    return base.select(
        "c_custkey",
        F.when(is_locked, F.lit(None)).otherwise(F.col("c_custkey").cast("string")).alias(
            "patient_id"
        ),
        F.when(is_locked, F.lit(None))
        .otherwise(F.concat(F.lit("CH"), F.col("c_custkey").cast("string")))
        .alias("patient_chart"),
        F.lit("true").alias("amd_synced"),
    )


@register(
    "ambiguity-no-key",
    sql="""
    SELECT CAST(c_custkey AS VARCHAR) AS natural_key,
           'ambiguous_no_email_unmapped' AS error
    FROM customer
    WHERE c_custkey % 17 = 0 AND c_custkey % 5 != 0
    """,
)
def q_ambiguity_no_key(spark, sf_dir):
    """Unmapped row with no email → quarantine, never written
    (main.py:688-692): %17 keys are email-less, %5 keys are mapped."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.filter((F.col("c_custkey") % 17 == 0) & (F.col("c_custkey") % 5 != 0))
        .select(
            SC.identifier_canon(F.col("c_custkey")).alias("natural_key"),
            F.lit("ambiguous_no_email_unmapped").alias("error"),
        )
    )


@register(
    "ambiguity-multi",
    sql="""
    WITH snapshot AS (
      SELECT CONCAT(LOWER(c_name), '@example.com') AS email FROM customer
      WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT CONCAT(LOWER(c_name), '@example.com') FROM customer
      WHERE c_custkey % 21 = 0
    )
    SELECT email, COUNT(*) AS match_count
    FROM snapshot GROUP BY email HAVING COUNT(*) > 1
    """,
)
def q_ambiguity_multi(spark, sf_dir):
    """>1 remote match for one email → ambiguous quarantine
    (main.py:702-706), as a per-key aggregate."""
    from .plans.patients import synthetic_snapshot

    snap = synthetic_snapshot(load_table(spark, sf_dir, "customer"))
    return (
        snap.groupBy("email")
        .agg(F.count(F.lit(1)).alias("match_count"))
        .filter(F.col("match_count") > 1)
    )


@register(
    "threetier-composite",
    sql="""
    SELECT o_orderkey,
           COALESCE(t0.id, t1.id, t2.id) AS resolved_id
    FROM orders
    LEFT JOIN (SELECT CAST(c_custkey AS VARCHAR) AS k, MIN(c_custkey + 1000000) AS id
               FROM customer WHERE c_acctbal > 7000 GROUP BY 1) t0
      ON CAST(o_custkey AS VARCHAR) = t0.k
    LEFT JOIN (SELECT CONCAT(c_mktsegment, '|', CAST(c_nationkey AS VARCHAR)) AS k,
                      MIN(c_custkey + 2000000) AS id
               FROM customer GROUP BY 1) t1
      ON CONCAT(o_orderpriority, '|', CAST(o_custkey % 25 AS VARCHAR)) = t1.k
    LEFT JOIN (SELECT CAST(c_nationkey AS VARCHAR) AS k, MIN(c_custkey + 3000000) AS id
               FROM customer GROUP BY 1) t2
      ON CAST(o_custkey % 25 AS VARCHAR) = t2.k
    """,
)
def q_threetier_composite(spark, sf_dir):
    """README-declared three-tier composite-key cascade (README.md:38-42:
    email → name+DOB → address): each tier matches on a different
    composite key set; first hit wins. (The reference code implements
    only the email tier — main.py:694-706; the full cascade is built
    here as declared.)"""
    o = _t(spark, sf_dir, "orders").withColumns(
        {
            "k0": F.col("o_custkey").cast("string"),
            "k1": F.concat_ws("|", F.col("o_orderpriority"), (F.col("o_custkey") % 25).cast("string")),
            "k2": (F.col("o_custkey") % 25).cast("string"),
        }
    )
    c = _t(spark, sf_dir, "customer")
    tiers = [
        (
            c.filter(F.col("c_acctbal") > 7000).select(
                F.col("c_custkey").cast("string").alias("ck"),
                (F.col("c_custkey") + 1000000).alias("tid"),
            ),
            "k0",
            "ck",
            "tid",
        ),
        (
            c.select(
                F.concat_ws("|", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias("ck"),
                (F.col("c_custkey") + 2000000).alias("tid"),
            ),
            "k1",
            "ck",
            "tid",
        ),
        (
            c.select(
                F.col("c_nationkey").cast("string").alias("ck"),
                (F.col("c_custkey") + 3000000).alias("tid"),
            ),
            "k2",
            "ck",
            "tid",
        ),
    ]
    return J.tiered_match_join(o, tiers).select("o_orderkey", "resolved_id")


@register(
    "multimodal-cols",
    sql="""
    SELECT vec_id,
           len(embedding) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_component,
           CAST(list_max(embedding) AS DOUBLE) AS max_component,
           json_extract(props, '$.k')::BIGINT AS prop_k
    FROM embeddings
    JOIN events ON vec_id = event_id % 500
    WHERE event_id < 200
    """,
)
def q_multimodal_cols(spark, sf_dir):
    """First-class nested-type columns (SURVEY.md §2.11
    `multimodal-cols`): array length / element access / array max over
    array<float>, and JSON map extraction from a string column —
    joined across modalities."""
    emb = _t(spark, sf_dir, "embeddings")
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    joined = emb.join(ev, emb.vec_id == ev.event_id % 500)
    return joined.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", F.lit(1)).cast("double").alias("first_component"),
        F.array_max("embedding").cast("double").alias("max_component"),
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


def _media_features_sql() -> str:
    from .multimodal.fixture import MEDIA_FEATURES_FIXTURE

    return f"""
    SELECT media_id, kind, decode_ok, content_source,
           dec_width, dec_height, dec_duration_ms,
           ROUND(f0, 6) AS f0, ROUND(f3, 6) AS f3
    FROM read_parquet('{MEDIA_FEATURES_FIXTURE}')
    """


@register("multimodal-decode", sql=_media_features_sql())
def q_multimodal_decode(spark, sf_dir):
    """Arrow-batched media decode/feature-extraction over binary
    columns via mapInPandas — REAL stdlib codecs for PNG pixels, WAV
    PCM, mp4 container metadata, uncompressed ('raw ') video frame
    pixels, AND Motion-JPEG frames (baseline-JPEG Huffman + DC-plane
    decode, the standard 8x-downsampled path); codecs with no stdlib
    decoder (H.264) keep hash stand-ins and are labeled
    content_source='stub-hash' so consumers can filter
    (multimodal/binary.py). Oracle-backed via the generation-time
    feature fixture (multimodal/fixture.py): expected features are
    computed from the RAW pre-encode content (pixels/PCM/frame
    planes), so every codec's decode is checked end-to-end — f0 is a
    metadata-derived feature, f3 a content-derived one (image mean-R /
    audio RMS / video mean-G)."""
    from .multimodal import decode_and_featurize, fake_media_table

    media = fake_media_table(spark, 120)
    feats = decode_and_featurize(media)
    return feats.select(
        "media_id",
        "kind",
        "decode_ok",
        "content_source",
        "dec_width",
        "dec_height",
        "dec_duration_ms",
        F.round(F.element_at("feature", F.lit(1)).cast("double"), 6).alias("f0"),
        F.round(F.element_at("feature", F.lit(4)).cast("double"), 6).alias("f3"),
    )


def _frame_index_sql() -> str:
    from .multimodal.fixture import FRAME_INDEX_FIXTURE

    return f"""
    SELECT media_id, sample_idx, ts_ms, byte_offset, n_bytes, codec,
           TRUE AS decode_ok
    FROM read_parquet('{FRAME_INDEX_FIXTURE}')
    QUALIFY row_number() OVER (
        PARTITION BY media_id, ts_ms // 1000 ORDER BY sample_idx) = 1
    """


@register("video-frame-index", sql=_frame_index_sql())
def q_video_frame_index(spark, sf_dir):
    """Demux every video payload into one row per sampled frame — REAL
    mp4 sample-table parse (stsd/stts/stsz/stsc/stco), real byte
    ranges sliced from mdat, 1-per-second sampling. Oracle-backed: the
    SQL reads the generation-time ground-truth fixture (frame offsets/
    sizes/timestamps recomputed from the encoder's construction math,
    independent of the demuxer — multimodal/fixture.py) and re-derives
    the 1-per-second selection, so both the demux and the sampling are
    checked. Frame bytes are projected out here (the driver hashes
    rows); byte-range *content* correctness is covered by the rawvideo
    pixel-decode tests."""
    from .multimodal import fake_media_table
    from .multimodal.binary import video_frame_index

    media = fake_media_table(spark, 120)
    return video_frame_index(media, every_ms=1000).select(
        "media_id", "sample_idx", "ts_ms", "byte_offset", "n_bytes",
        "codec", "decode_ok",
    )


def _similarity_join_sql() -> str:
    """Re-derive the WHOLE LSH path in SQL — hyperplane sign buckets,
    radius-1 multi-probe, candidate join, cosine threshold — the same
    implementation-parity oracle pattern as topk-similarity-ivf (at
    cosine ≈ 0.5 sign-LSH recall is genuinely not exhaustive, so a
    brute-force oracle would mismatch by design; this one checks that
    the pruning computes exactly what it claims)."""
    from .operators.similarity import _deterministic_planes
    from .queries_text import _bucket_sql
    from .sqlfrags import _DOT_SQL, FINITE_VEC_SQL

    planes = _deterministic_planes(8, 64)
    b_expr = _bucket_sql("embedding", planes)
    dot = _DOT_SQL.format(a="pa.embedding", b="pb.embedding")
    na = _DOT_SQL.format(a="pa.embedding", b="pa.embedding")
    nb = _DOT_SQL.format(a="pb.embedding", b="pb.embedding")
    probes = " UNION ALL ".join(
        ["SELECT vec_id, b0 AS bucket FROM bucketed"]
        + [
            f"SELECT vec_id, xor(b0, {1 << i}) AS bucket FROM bucketed"
            for i in range(8)
        ]
    )
    return f"""
    WITH planted AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE {FINITE_VEC_SQL.format(c='embedding')}
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(embedding, (x, i) -> CAST(x + 0.003 * (((i-1) % 5) - 2.0) AS FLOAT))
      FROM embeddings
      WHERE vec_id < 100 AND {FINITE_VEC_SQL.format(c='embedding')}
    ), bucketed AS (
      SELECT vec_id, {b_expr} AS b0 FROM planted
    ), probes AS (
      {probes}
    ), cand AS (
      SELECT DISTINCT p.vec_id AS a_id, a.vec_id AS b_id
      FROM probes p JOIN bucketed a ON p.bucket = a.b0 AND p.vec_id < a.vec_id
    ), scored AS (
      SELECT c.a_id, c.b_id,
             CASE WHEN sqrt({na}) * sqrt({nb}) > 0
                  THEN {dot} / (sqrt({na}) * sqrt({nb})) END AS cos_raw
      FROM cand c
      JOIN planted pa ON pa.vec_id = c.a_id
      JOIN planted pb ON pb.vec_id = c.b_id
    )
    SELECT a_id, b_id, ROUND(cos_raw, 6) AS cos
    FROM scored WHERE cos_raw >= 0.5
    """


@register("similarity-join", sql=_similarity_join_sql())
def q_similarity_join(spark, sf_dir):
    """All-pairs similarity join within a cosine threshold, candidate-
    bounded by hyperplane LSH (SURVEY.md §2.11; alias surface of the
    embedding near-dup operator at a looser threshold). Runs over the
    planted-near-dup corpus (random embeddings have no similar pairs
    — a 0-row result would prove nothing). Oracle-backed by SQL that
    re-derives the sign buckets and radius-1 probes, so the candidate
    pruning itself is verified (see _similarity_join_sql on why a
    brute-force oracle is wrong for this surface)."""
    from .operators import dedup as DD
    from .queries_text import _planted_embeddings

    return DD.embedding_near_dup_pairs(
        _planted_embeddings(spark, sf_dir), threshold=0.5
    )


def _image_resize_sql() -> str:
    from .multimodal.fixture import IMAGE_RESIZE_FIXTURE

    return f"""
    SELECT media_id, decode_ok, src_w, src_h, out_w, out_h,
           resized_md5, mean_r, mean_g, mean_b
    FROM read_parquet('{IMAGE_RESIZE_FIXTURE}')
    """


@register("image-resize", sql=_image_resize_sql())
def q_image_resize(spark, sf_dir):
    """Image resize stage of the multimodal ingest pipeline: PNG
    decode → nearest-neighbor resample to a fixed training resolution
    (8x8 here) over Arrow-batched mapInPandas. Oracle-backed by the
    generation-time fixture: expected resized bytes (compared by md5)
    and channel means are computed from the RAW pre-encode pixels —
    PNG is lossless, so any decoder or resampler defect is a value
    mismatch (multimodal/binary.py resize_images)."""
    from .multimodal.binary import fake_media_table, resize_images

    media = fake_media_table(spark, 120)
    images = media.filter(F.col("meta.kind") == "image")
    return resize_images(images, out_w=8, out_h=8)


def _audio_resample_sql() -> str:
    from .multimodal.fixture import AUDIO_RESAMPLE_FIXTURE

    return f"""
    SELECT media_id, decode_ok, src_rate, src_n, out_rate, out_n,
           resampled_md5, rms, peak
    FROM read_parquet('{AUDIO_RESAMPLE_FIXTURE}')
    """


@register("audio-resample", sql=_audio_resample_sql())
def q_audio_resample(spark, sf_dir):
    """Audio resample stage of the multimodal ingest pipeline: WAV
    decode → nearest-sample (sample-and-hold) resample from 8 kHz to a
    fixed 4 kHz training rate over Arrow-batched mapInPandas.
    Oracle-backed by the generation-time fixture: expected resampled
    bytes (md5) and rms/peak come from the RAW pre-encode PCM — WAV is
    lossless int16, so any decoder or resampler defect is a value
    mismatch (multimodal/binary.py resample_audio)."""
    from .multimodal.binary import fake_media_table, resample_audio

    media = fake_media_table(spark, 120)
    audio = media.filter(F.col("meta.kind") == "audio")
    return resample_audio(audio, out_rate=4000)
