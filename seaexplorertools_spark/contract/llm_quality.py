"""Quality/statistics operators: sampling, drift, hypothesis tests,
concentration, sketches (batch 6, part 2).

Split from the flat contract module in round 5 (registry mechanics and
conventions: contract/_base.py; canonical key order: contract/_order.py).
"""

from __future__ import annotations

import math  # noqa: F401

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401
from pyspark.sql.window import Window  # noqa: F401

from ..operators import windows as W  # noqa: F401
from ..operators.grid import binned_agg_2d, histogram  # noqa: F401
from ..operators.joins import asof_join, interp_join  # noqa: F401
from ..operators.qc import qc_velocity  # noqa: F401
from ._base import (  # noqa: F401
    EV_ORDER,
    ORACLES,
    QUERIES,
    R6P_SQL,
    events,
    ptable, q,
    r6,
    r6p,
    table,
    ts_us_col,
)
from .llm_core import _TOK_SQL  # noqa: F401


@q(
    "q_hopping_counts",
    """
    WITH hops AS (
      SELECT unnest([
               (epoch_us(ts) // 300000000) * 300000000 - 300000000,
               (epoch_us(ts) // 300000000) * 300000000
             ]) AS win_start,
             event_type, value
      FROM events
    )
    SELECT win_start, event_type,
           count(*) AS n,
           floor(SUM(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value
    FROM hops WHERE win_start >= 0 GROUP BY 1, 2
    """,
)
def q_hopping_counts(spark, sf_dir):
    """Batch hopping-window aggregate: 10-minute windows sliding every
    5 minutes, so each event lands in exactly size/slide = 2 windows
    [s1−slide, s1] with s1 = (ts div slide)·slide. The window starts are
    computed with INTEGER µs arithmetic rather than ``F.window`` so
    boundaries are session-timezone-proof (a :30/:45-offset zone shifts
    F.window's epoch alignment on TIMESTAMP inputs) and engine-exact.
    Plan: 2-element explode → ONE partial-agg exchange."""
    ev = events(spark, sf_dir)
    slide = 300000000
    s1 = (F.col("ts_us") - (F.col("ts_us") % F.lit(slide))).cast("bigint")
    out = (
        ev.withColumn("win_start", F.explode(F.array(s1 - F.lit(slide), s1)))
        .filter(F.col("win_start") >= 0)
        .groupBy("win_start", "event_type")
        .agg(
            F.count("*").alias("n"),
            r6p(F.sum("value")).alias("sum_value"),
        )
    )
    return out


@q(
    "q_l_diversity",
    """
    WITH cells AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2),
    per AS (
      SELECT lang, n,
             CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS class_size,
             COUNT(*) OVER (PARTITION BY lang) AS l_distinct,
             CAST(MAX(n) OVER (PARTITION BY lang) AS BIGINT) AS max_n
      FROM cells
    )
    SELECT lang, class_size, l_distinct,
           CAST(max_n AS DOUBLE) / CAST(class_size AS DOUBLE) AS majority_share,
           floor(SUM(-(CAST(n AS DOUBLE) / CAST(class_size AS DOUBLE))
                     * ln(CAST(n AS DOUBLE) / CAST(class_size AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS sens_entropy
    FROM per GROUP BY lang, class_size, l_distinct, max_n
    """,
)
def q_l_diversity(spark, sf_dir):
    """l-diversity audit of source (the sensitive attribute) within each
    language class (operators/privacy.py::l_diversity_audit) — a
    k-anonymous class still leaks if everyone in it shares the sensitive
    value. Reports class size, distinct-sensitive count (the l),
    majority share, and sensitive-mix entropy. One (QI × sensitive)
    cell aggregate; margins are windows over that cell table."""
    from ..operators.privacy import l_diversity_audit

    docs = ptable(spark, sf_dir)
    out = l_diversity_audit(docs, ["lang"], "source")
    return out.select(
        "lang",
        "class_size",
        "l_distinct",
        "majority_share",
        r6p(F.col("sens_entropy")).alias("sens_entropy"),
    )


@q(
    "q_dp_counts",
    """
    WITH counts AS (SELECT event_type, count(*) AS true_n FROM events GROUP BY 1),
    nz AS (
      SELECT event_type, true_n,
             (CAST(('0x' || substr(md5('dp' || chr(31) || event_type), 1, 12))
                   AS BIGINT) + 0.5) / 281474976710656.0 - 0.5 AS u
      FROM counts
    )
    SELECT event_type, true_n,
           floor(greatest(
                   CAST(true_n AS DOUBLE)
                   + sign(u) * (-ln(1.0 - 2.0 * abs(u)) / 1.0),
                   0.0) * 1000000.0 + 0.5) / 1000000.0 AS noisy_n
    FROM nz
    """,
)
def q_dp_counts(spark, sf_dir):
    """Laplace-mechanism noisy per-group counts (ε=1, sensitivity 1)
    with DETERMINISTIC salted-hash noise
    (operators/privacy.py::dp_noisy_counts) — the inverse-CDF transform
    −(1/ε)·sgn(u)·ln(1−2|u|) on a md5-derived uniform. Deterministic
    noise is exactly oracle-checkable and is the right property for
    TESTING the release plumbing; production swaps in a secure RNG (the
    docstring spells out that replayable noise is NOT a DP guarantee)."""
    from ..operators.privacy import dp_noisy_counts

    ev = events(spark, sf_dir)
    out = dp_noisy_counts(ev, ["event_type"], epsilon=1.0, salt="dp")
    return out.select(
        "event_type", "true_n", r6p(F.col("noisy_n")).alias("noisy_n")
    )


@q(
    "txt_readability",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({_TOK_SQL}) AS DOUBLE) AS words,
             greatest(1.0, CAST(len(regexp_extract_all(text, '[.!?]+'))
                             AS DOUBLE)) AS sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS DOUBLE) AS syllables
      FROM documents
    )
    SELECT doc_id,
           CAST(words AS BIGINT) AS n_words,
           CAST(sentences AS BIGINT) AS n_sentences,
           CAST(syllables AS BIGINT) AS n_syllables,
           floor((206.835 - 1.015 * (words / sentences)
                  - 84.6 * (syllables / greatest(words, 1.0)))
                 * 1000000.0 + 0.5) / 1000000.0 AS flesch
    FROM t
    """,
)
def txt_readability(spark, sf_dir):
    """Flesch reading-ease per document
    (operators/text.py::readability_features) — the cheap quality signal
    corpus filters threshold on. Words/sentence-runs/vowel-group
    syllables are pure codegen regex counts (identical classes in Java
    regex and RE2); the formula is replayed verbatim in the oracle."""
    from ..operators.text import readability_features

    docs = ptable(spark, sf_dir)
    out = readability_features(docs)
    return out.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        r6p(F.col("flesch")).alias("flesch"),
    )


@q(
    "ann_isotropy_probe",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    p AS (
      SELECT s.stride, a.emb AS va, b.emb AS vb
      FROM (VALUES (1), (7), (31)) s(stride)
      JOIN v a ON TRUE
      JOIN v b ON b.vec_id = a.vec_id + s.stride
    ),
    c AS (
      SELECT stride,
             round(list_dot_product(va, vb)
                   / (sqrt(list_dot_product(va, va))
                      * sqrt(list_dot_product(vb, vb))), 6) AS cos
      FROM p
    )
    SELECT stride, count(*) AS n_pairs,
           floor(AVG(cos) * 1000000.0 + 0.5) / 1000000.0 AS mean_cos,
           MIN(cos) AS min_cos, MAX(cos) AS max_cos
    FROM c GROUP BY stride
    """,
)
def ann_isotropy_probe(spark, sf_dir):
    """Embedding-space isotropy probe
    (operators/similarity.py::isotropy_probe): mean/extreme cosine over
    deterministic id-stride pairs (strides 1, 7, 31) — collapsed
    (anisotropic) embedding spaces show large positive mean cosine, a
    known failure mode of contrastive encoders. Each stride is ONE
    equi-join (linear volume, no crossJoin, no RNG) — the O(N) health
    check run before any ANN index build."""
    from ..operators.similarity import isotropy_probe

    e = table(spark, sf_dir, "embeddings")
    out = isotropy_probe(e, strides=(1, 7, 31))
    return out.select(
        "stride",
        "n_pairs",
        r6p(F.col("mean_cos")).alias("mean_cos"),
        "min_cos",
        "max_cos",
    )


@q(
    "mm_wav_features",
    """
    SELECT doc_id AS media_id,
           44 + strlen(text) AS n_bytes,
           8000 + (doc_id % 8) * 1000 AS sample_rate,
           1 + doc_id % 2 AS channels,
           CAST(16 AS BIGINT) AS bits,
           strlen(text) // (2 * (1 + doc_id % 2)) AS n_frames,
           (strlen(text) // (2 * (1 + doc_id % 2))) * 1000
             // (8000 + (doc_id % 8) * 1000) AS duration_ms
    FROM documents
    """,
)
def mm_wav_features(spark, sf_dir):
    """Audio-metadata extraction over REAL RIFF/WAVE containers
    (operators/multimodal.py::parse_wav_header via mapInPandas): the
    adapter wraps text bytes in a spec-valid PCM WAV whose fmt fields
    derive deterministically from doc_id, so the genuinely-parsed
    sample_rate/channels/bits/frames/duration are oracle-checkable
    arithmetic. Sample DECODE stays gated on absent codec libs — this is
    the real metadata layer, the audio twin of the PNG header parse."""
    from ..operators.multimodal import documents_as_audio, extract_audio_features

    media = documents_as_audio(ptable(spark, sf_dir))
    return extract_audio_features(media)


@q(
    "mm_flac_signal",
    """
    WITH d AS (
      SELECT doc_id, 64 + doc_id % 64 AS n,
             doc_id % 1000 - 500 AS a, doc_id % 7 - 3 AS b,
             8000 + (doc_id % 8) * 1000 AS rate
      FROM documents
    ),
    s AS (
      SELECT doc_id, n, rate, unnest(range(n)) AS i,
             a + b * unnest(range(n)) AS v
      FROM d
    ),
    c AS (
      SELECT doc_id, n, rate, i, v,
             lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      FROM s
    )
    SELECT doc_id AS media_id, CAST(max(rate) AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS channels, CAST(max(n) AS BIGINT) AS n_frames,
           sqrt(CAST(sum(v * v) AS DOUBLE) / max(n)) AS rms,
           CAST(max(abs(v)) AS DOUBLE) AS peak,
           CAST(sum(CASE WHEN pv IS NOT NULL AND (v < 0) <> (pv < 0)
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / (max(n) - 1) AS zero_cross_rate
    FROM c GROUP BY doc_id
    """,
)
def mm_flac_signal(spark, sf_dir):
    """REAL compressed-audio signal features: per document a spec-valid
    FLAC stream (documents_as_flac — mono 16-bit ramps, CONSTANT/FIXED
    subframes, CRC-8/16-correct frames) is frame-decoded by the
    pure-python FLAC codec (operators/flaccodec.py) and reduced to
    rms/peak/zero-cross-rate by the shared audio lane
    (wav_signal_features, WAV → FLAC sniff order). FLAC is lossless and
    the samples are small integers, so every statistic is an exact
    double (integer sums < 2^53 are summation-order-independent) and
    the whole encode→decode→stats path is driver-checked, not
    rows-only. At 100 TB both stages are Arrow-batched mapInPandas,
    zero shuffle — the audio twin of mm_image_features."""
    from ..operators.multimodal import documents_as_flac, wav_signal_features

    media = documents_as_flac(ptable(spark, sf_dir))
    return wav_signal_features(media)


@q(
    "mm_mp3_signal",
    """
    SELECT doc_id AS media_id,
           CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                ELSE 32000 END AS BIGINT) AS sample_rate,
           CAST(1 + doc_id % 2 AS BIGINT) AS channels,
           CAST(1152 * (2 + doc_id % 6) AS BIGINT) AS n_frames,
           CAST(0.0 AS DOUBLE) AS rms,
           CAST(0.0 AS DOUBLE) AS peak,
           CAST(0.0 AS DOUBLE) AS zero_cross_rate
    FROM documents
    """,
)
def mm_mp3_signal(spark, sf_dir):
    """Lossy-audio signal features through the FULL MPEG-1 Layer III
    decode pipeline (operators/mp3codec.py): per document a spec-valid
    CBR silence stream (documents_as_mp3 — zero-spectrum granules with
    rate/channels/frame-count/bitrate all deterministic in doc_id) is
    decoded frame by frame — sync walk, side info, scalefactor slots,
    huffman bit budget, requantize, IMDCT, overlap-add, polyphase
    synthesis — by wav_signal_features' WAV → FLAC → MP3 sniff chain.
    Silence is the EXACT-oracle class: a zero spectrum must come out of
    a correct (and linear) decode chain as exactly 0.0 regardless of
    the synthesis window, so rms/peak/ZCR are closed-form constants and
    the sample count is 1152 × frames — any desync, side-info
    misparse, or dropped frame breaks the hash. Nonzero-spectrum decode
    is pinned by the numpy replay in tests/test_mp3codec.py (see
    mp3codec's honest-scope docstring for the subset boundary). Both
    stages Arrow-batched mapInPandas, zero shuffle — the lossy twin of
    mm_flac_signal."""
    from ..operators.multimodal import documents_as_mp3, wav_signal_features

    media = documents_as_mp3(ptable(spark, sf_dir))
    return wav_signal_features(media)


@q(
    "mm_audio_resample",
    """
    WITH d AS (
      SELECT doc_id, 64 + doc_id % 64 AS n,
             doc_id % 1000 - 500 AS a, doc_id % 7 - 3 AS b,
             8000 + (doc_id % 8) * 1000 AS rate
      FROM documents
    ),
    s AS (
      SELECT doc_id, n, rate, a, b, unnest(range(2 * n - 1)) AS k
      FROM d
    ),
    v AS (
      SELECT doc_id, n, rate, a + b * (k / 2.0) AS val
      FROM s
    )
    SELECT doc_id AS media_id,
           CAST(max(rate) AS BIGINT) AS src_rate,
           CAST(2 * max(rate) AS BIGINT) AS target_rate,
           CAST(2 * max(n) - 1 AS BIGINT) AS n_frames,
           sqrt(sum(val * val) / (2 * max(n) - 1)) AS rms,
           max(abs(val)) AS peak
    FROM v GROUP BY doc_id
    """,
)
def mm_audio_resample(spark, sf_dir):
    """Linear-interp resampling under the exact oracle
    (multimodal.py::resample_audio_features, factor 2): the FLAC ramp
    fixtures decode to integer samples, the dyadic upsample grid
    (k/2) is exact in float64, and a linear interpolant of a linear
    ramp is the same ramp — so every resampled value, the quarter-
    integer squares, their (order-independent) sums, rms and peak are
    exact doubles the SQL reproduces term for term. Pins the whole
    decode → channel-mean → interp-grid → stats chain; arbitrary
    factors are replay-pinned in pytest. Zero shuffle."""
    from ..operators.multimodal import documents_as_flac, resample_audio_features

    media = documents_as_flac(ptable(spark, sf_dir))
    return resample_audio_features(media, upsample_factor=2)


@q(
    "mm_warc_http",
    """
    SELECT doc_id AS media_id,
           CAST(1 AS BIGINT) AS rec_idx,
           'http://site' || (doc_id % 40) || '.example.com/doc/' || doc_id
             AS target_uri,
           CAST(CASE doc_id % 3 WHEN 0 THEN 200 WHEN 1 THEN 404
                ELSE 301 END AS BIGINT) AS status_code,
           CASE doc_id % 3 WHEN 0 THEN 'text/html; charset=utf-8'
                WHEN 1 THEN 'text/plain'
                ELSE 'application/json' END AS content_type,
           text AS http_body
    FROM documents
    """,
)
def mm_warc_http(spark, sf_dir):
    """HTTP-response parsing INSIDE WARC records — the two-layer
    Common Crawl ingest shape: WARC framing outside (Content-Length
    walk, per-record gzip on odd ids), raw HTTP framing inside (status
    line, headers, CRLFCRLF payload split). The oracle pins status
    code, Content-Type and the exact payload text per document;
    warcinfo records and non-HTTP bodies are dropped by contract
    (rec_idx = 1 everywhere proves the type filter). Zero shuffle,
    per-payload degrade (operators/warc.py::warc_http_records)."""
    from ..operators.warc import documents_as_http_warc, warc_http_records

    media = documents_as_http_warc(ptable(spark, sf_dir))
    return warc_http_records(media)


@q(
    "mm_mp3_vbr",
    """
    WITH d AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                  ELSE 32000 END AS sr,
             2 + doc_id % 6 AS nf
      FROM documents
    ),
    f AS (  -- per-audio-frame lengths: bitrates cycle 128/160/192 kbps
      SELECT doc_id, sr, nf, unnest(range(nf)) AS k
      FROM d
    ),
    fl AS (
      SELECT doc_id, sr, nf,
             (144 * (CASE k % 3 WHEN 0 THEN 128000 WHEN 1 THEN 160000
                     ELSE 192000 END)) // sr AS flen
      FROM f
    )
    SELECT doc_id AS media_id,
           CAST((144 * (CASE doc_id % 3 WHEN 0 THEN 128000
                        WHEN 1 THEN 160000 ELSE 192000 END)) // max(fl.sr)
                + sum(fl.flen) AS BIGINT) AS n_bytes,
           CAST(max(fl.sr) AS BIGINT) AS sample_rate,
           CAST(1 + doc_id % 2 AS BIGINT) AS channels,
           CAST(NULL AS BIGINT) AS bits,
           CAST(1152 * max(fl.nf) AS BIGINT) AS n_frames,
           CAST((1152 * max(fl.nf) * 1000) // max(fl.sr) AS BIGINT)
             AS duration_ms
    FROM fl
    GROUP BY doc_id
    """,
)
def mm_mp3_vbr(spark, sf_dir):
    """VBR MP3 metadata — the real-world form: a Xing header frame
    (frames field) followed by audio frames whose bitrate CYCLES
    128/160/192 kbps. The CBR estimate (payload // first-frame-length)
    is wrong for these streams BY CONSTRUCTION, so this query only
    hashes green through parse_mp3_header's Xing path (exact
    frames × 1152); n_bytes additionally pins every per-frame length
    in the cycle (the oracle sums them per doc). The Xing frame is
    non-audio — decode_mp3_samples skips it (pytest-pinned)."""
    from ..operators.multimodal import documents_as_mp3, extract_audio_features

    media = documents_as_mp3(ptable(spark, sf_dir), vbr=True)
    return extract_audio_features(media)


@q(
    "mm_ogg_meta",
    """
    WITH d AS (
      SELECT doc_id, doc_id % 2 AS odd, doc_id % 3 AS m3,
             1 + (doc_id // 2) % 2 AS ch
      FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(CASE WHEN odd = 0 THEN 95 + 48 * (1 + m3)
                ELSE 102 END AS BIGINT) AS n_bytes,
           CAST(CASE WHEN odd = 0
                THEN CASE m3 WHEN 0 THEN 48000 WHEN 1 THEN 24000
                     ELSE 16000 END
                ELSE CASE m3 WHEN 0 THEN 44100 WHEN 1 THEN 32000
                     ELSE 22050 END END AS BIGINT) AS sample_rate,
           CAST(ch AS BIGINT) AS channels,
           CAST(NULL AS BIGINT) AS bits,
           CAST(CASE WHEN odd = 0 THEN 960 * (1 + doc_id % 5)
                ELSE 1024 * (1 + doc_id % 7) END AS BIGINT) AS n_frames,
           CAST(CASE WHEN odd = 0
                THEN (960 * (1 + doc_id % 5) * 1000) // 48000
                ELSE (1024 * (1 + doc_id % 7) * 1000) //
                     CASE m3 WHEN 0 THEN 44100 WHEN 1 THEN 32000
                          ELSE 22050 END END AS BIGINT) AS duration_ms
    FROM d
    """,
)
def mm_ogg_meta(spark, sf_dir):
    """Ogg container metadata over REAL Opus AND Vorbis streams
    (operators/ogg.py::parse_ogg_header via extract_audio_features —
    page walk to the last complete page, granule-position stream
    length, 48 kHz-minus-preskip Opus semantics vs codec-rate Vorbis).
    The adapter alternates codecs per doc_id with fixed-size page
    bodies, so byte count, rate, channels, sample total and duration
    are all closed-form — one constructor oracle pins both codec
    branches, the multi-page granule accumulation and the EOS flag
    handling. Completes web-audio metadata: WAV, FLAC, MP3, Ogg."""
    from ..operators.multimodal import extract_audio_features
    from ..operators.ogg import documents_as_ogg

    media = documents_as_ogg(ptable(spark, sf_dir))
    return extract_audio_features(media)


@q(
    "mm_flac_tags",
    """
    SELECT doc_id AS media_id,
           'seaexplorertools_spark' AS vendor,
           'doc ' || doc_id || ' ♪' AS title,
           'site' || (doc_id % 40) AS artist,
           CAST(2000 + doc_id % 26 AS VARCHAR) AS date,
           CAST(3 + doc_id % 2 + CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END
                AS BIGINT) AS n_comments
    FROM documents
    """,
)
def mm_flac_tags(spark, sf_dir):
    """VORBIS_COMMENT tag extraction from REAL FLAC streams
    (operators/vorbis.py::extract_flac_tags) — the third tag family
    next to EXIF (mm_exif_meta) and ID3v2 (mm_id3_meta). The adapter
    writes little-endian length-prefixed UTF-8 fields (the endianness
    flip inside the big-endian FLAC container) with UPPERCASE keys, a
    non-ASCII title, a GENRE field on odd ids and a duplicate TITLE on
    ids divisible by 10 — so the oracle pins case-insensitive matching,
    UTF-8 decode, first-occurrence-wins AND the raw field count in one
    constructor query. Zero shuffle, per-row degrade."""
    from ..operators.vorbis import documents_as_tagged_flac, extract_flac_tags

    media = documents_as_tagged_flac(ptable(spark, sf_dir))
    return extract_flac_tags(media)


@q(
    "mm_ogg_tags",
    """
    SELECT doc_id AS media_id,
           'seaexplorertools_spark' AS vendor,
           'doc ' || doc_id || ' ♪' AS title,
           'site' || (doc_id % 40) AS artist,
           CAST(2000 + doc_id % 26 AS VARCHAR) AS date,
           CAST(3 + doc_id % 2 + CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END
                AS BIGINT) AS n_comments
    FROM documents
    """,
)
def mm_ogg_tags(spark, sf_dir):
    """Vorbis-comment extraction through BOTH Ogg framings
    (operators/ogg.py::extract_ogg_tags): even doc_ids carry the block
    as an OpusTags packet, odd ids as the Vorbis comment-header packet
    (``\\x03vorbis`` + block + framing bit) — one oracle (shared with
    mm_flac_tags, same field derivations) pins the page walk to the
    second packet, both magic framings, and the block parser reused
    verbatim from the FLAC container. Zero shuffle, per-row degrade."""
    from ..operators.ogg import documents_as_tagged_ogg, extract_ogg_tags

    media = documents_as_tagged_ogg(ptable(spark, sf_dir))
    return extract_ogg_tags(media)


@q(
    "mm_mp3_meta",
    """
    WITH d AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                  ELSE 32000 END AS sr,
             CASE doc_id % 3 WHEN 0 THEN 128000 WHEN 1 THEN 160000
                  ELSE 192000 END AS br,
             2 + doc_id % 6 AS nf
      FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(nf * ((144 * br) // sr) AS BIGINT) AS n_bytes,
           CAST(sr AS BIGINT) AS sample_rate,
           CAST(1 + doc_id % 2 AS BIGINT) AS channels,
           CAST(NULL AS BIGINT) AS bits,
           CAST(nf * 1152 AS BIGINT) AS n_frames,
           CAST((nf * 1152 * 1000) // sr AS BIGINT) AS duration_ms
    FROM d
    """,
)
def mm_mp3_meta(spark, sf_dir):
    """MP3 frame-header metadata over REAL Layer III streams
    (multimodal.py::parse_mp3_header via extract_audio_features —
    double-sync validation, CBR frame-count estimate, bits=NULL for
    lossy): documents_as_mp3's streams have frame length
    144·bitrate//rate with no padding bit, so every parsed field —
    payload size, rate, mode-derived channels, 1152·frames sample
    estimate, duration — is exact doc_id arithmetic. The metadata twin
    of mm_mp3_signal (which decodes the samples); together they pin the
    whole audio lane's WAV → FLAC → MP3 sniff order from both sides."""
    from ..operators.multimodal import documents_as_mp3, extract_audio_features

    media = documents_as_mp3(ptable(spark, sf_dir))
    return extract_audio_features(media)


@q(
    "mm_video_frames",
    """
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 3 AS k,
             16 * (1 + doc_id % 3) AS w, 8 * (1 + doc_id % 4) AS h
      FROM documents
    ),
    s AS (
      SELECT doc_id, k, w, h, fi, (fi * k) // 2 AS idx
      FROM d, (VALUES (0), (1)) f(fi)
    ),
    v AS (
      SELECT doc_id, fi, idx, w, h,
             (doc_id + 31 * idx) % 256 AS a,
             (37 + 11 * doc_id + 17 * idx) % 256 AS b
      FROM s
    )
    SELECT doc_id AS media_id, CAST(fi AS BIGINT) AS frame_idx,
           idx * 40 AS time_ms, w AS width, h AS height,
           CAST(1 AS BIGINT) AS channels,
           (a + b) / 2.0 AS mean_px,
           least(a, b) AS min_px, greatest(a, b) AS max_px
    FROM v
    """,
)
def mm_video_frames(spark, sf_dir):
    """REAL video-frame pixel statistics: per document a spec-valid
    MJPEG AVI (documents_as_mjpeg — 2-4 two-tone JPEG frames, 40 ms
    apart), container-walked (RIFF movi chunks), evenly frame-sampled,
    and each sampled frame JPEG-decoded by the pure-python codec chain
    (operators/multimodal.py::video_frame_features). Flat block-aligned
    halves at unit quant decode exactly, so per-(doc, frame) stats are
    closed-form in (doc_id, sampled index) and the whole
    container→codec→stats path is driver-checked, not rows-only —
    real frame pixels for the MJPEG class without any new codec;
    H.264 payloads degrade per-frame to NULL stats by construction.
    At 100 TB: two chained mapInPandas stages, zero shuffle — the video
    twin of mm_image_features."""
    from ..operators.multimodal import documents_as_mjpeg, video_frame_features

    media = documents_as_mjpeg(ptable(spark, sf_dir))
    return video_frame_features(media, n_frames=2, native=False)


def _lpa_oracle_sql(n_iter: int = 3) -> str:
    """DuckDB replay of operators/graph.py::label_propagation — the same
    deterministic synchronous rounds unrolled as CTEs (mode of neighbor
    labels, ties to the smallest label via row_number)."""
    its = [
        "it0 AS (SELECT DISTINCT u AS node, u AS label FROM adj)",
    ]
    for k in range(1, n_iter + 1):
        its.append(
            f"""it{k} AS (
      SELECT u AS node, label FROM (
        SELECT a.u, l.label, count(*) AS cnt,
               row_number() OVER (PARTITION BY a.u
                                  ORDER BY count(*) DESC, l.label ASC) AS rn
        FROM adj a JOIN it{k - 1} l ON l.node = a.v
        GROUP BY a.u, l.label
      ) WHERE rn = 1
    )"""
        )
    return (
        """
    WITH und AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    adj AS (SELECT u, v FROM und UNION SELECT v, u FROM und),
    """
        + ",\n    ".join(its)
        + f"\n    SELECT node, label FROM it{n_iter}"
    )


@q("q_label_propagation", _lpa_oracle_sql(3))
def q_label_propagation(spark, sf_dir):
    """Deterministic synchronous label propagation (3 rounds) on the
    part co-purchase graph (operators/graph.py::label_propagation) —
    community detection with mode-of-neighbors updates, ties to the
    smallest label (the reproducible LPA variant; async+random LPA can't
    be oracle-checked). Per round: one |edges| join + one (node, label)
    aggregate + one argmax — linear in edges; the oracle unrolls the
    identical rounds in SQL."""
    from ..operators.graph import label_propagation

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
    )
    return label_propagation(pairs, n_iter=3)


def _hilbert_oracle_sql(bits: int = 8) -> str:
    from ..operators.hilbert import hilbert_oracle_ctes
    from ..operators.zorder import quantize_sql

    qp = quantize_sql(
        "l_partkey",
        "(SELECT min(l_partkey) FROM lineitem)",
        "(SELECT max(l_partkey) FROM lineitem)",
        bits,
    )
    qs = quantize_sql(
        "l_suppkey",
        "(SELECT min(l_suppkey) FROM lineitem)",
        "(SELECT max(l_suppkey) FROM lineitem)",
        bits,
    )
    base = (
        f"SELECT {qp} AS hx, {qs} AS hy, CAST(0 AS BIGINT) AS hd, "
        "l_partkey, l_suppkey FROM lineitem"
    )
    ctes = hilbert_oracle_ctes(base, bits, keep_cols="l_partkey, l_suppkey")
    return f"""
    WITH {ctes}
    SELECT hd >> {2 * bits - 4} AS bucket, count(*) AS n,
           min(l_partkey) AS p_min, max(l_partkey) AS p_max,
           min(l_suppkey) AS s_min, max(l_suppkey) AS s_max
    FROM l0 GROUP BY 1
    """


@q("q_hilbert_layout", _hilbert_oracle_sql(8))
def q_hilbert_layout(spark, sf_dir):
    """Hilbert-curve clustering layout audit
    (operators/hilbert.py::with_hilbert_key) — the locality-superior
    alternative to Z-order: consecutive keys are spatially ADJACENT
    (unit-step property, pinned in tests), so equal key ranges cut
    tighter per-file bounding boxes than Morton's seamy ranges (measured
    119 vs 196 mean box area on unaligned buckets). Same audit shape as
    q_zorder_layout: quantize (l_partkey, l_suppkey) to 8 bits, staged
    per-level reflection/swap chain (CollapseProject keeps it linear),
    bucket by the top 4 key bits, report per-bucket extents. Integer-
    exact; the oracle replays the identical chain as per-level CTEs."""
    from ..operators.hilbert import with_hilbert_key
    from ..operators.zorder import quantize

    bits = 8
    li = table(spark, sf_dir, "lineitem")
    lo_hi = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).collect()[0]
    plo, phi, slo, shi = (int(v) for v in lo_hi)
    staged = li.select(
        "l_partkey",
        "l_suppkey",
        quantize("l_partkey", plo, phi, bits).alias("qx"),
        quantize("l_suppkey", slo, shi, bits).alias("qy"),
    )
    keyed = with_hilbert_key(staged, "qx", "qy", bits=bits)
    return (
        keyed.select(
            "l_partkey",
            "l_suppkey",
            F.shiftright(F.col("hkey"), 2 * bits - 4).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("l_partkey").alias("p_min"),
            F.max("l_partkey").alias("p_max"),
            F.min("l_suppkey").alias("s_min"),
            F.max("l_suppkey").alias("s_max"),
        )
    )


@q(
    "q_embedding_dq",
    """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    f AS (
      SELECT vec_id, len(e) AS dim,
             len(list_filter(e, x -> isnan(x))) AS n_nan,
             sqrt(list_dot_product(
               list_filter(e, x -> NOT isnan(x)),
               list_filter(e, x -> NOT isnan(x)))) AS nrm
      FROM v
    )
    SELECT count(*) AS n_vecs,
           CAST(coalesce(sum(CASE WHEN dim <> 64 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_wrong_dim,
           CAST(coalesce(sum(CASE WHEN n_nan > 0 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_with_nan,
           CAST(coalesce(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_zero_norm,
           round(avg(nrm), 6) AS avg_norm
    FROM f
    """,
)
def q_embedding_dq(spark, sf_dir):
    """Embedding-health gate (the q_dq_checks pattern on the vector
    column): wrong-dimension, NaN-component, and zero-norm counts plus
    the mean L2 norm, in ONE map-side-combined aggregate over row-local
    array expressions — the pre-index sanity pass an ANN/semantic-dedup
    pipeline runs before building anything on the vectors. NaNs are
    excluded from the norm (isnan filter) so one bad component flags the
    row without poisoning the corpus-level mean."""
    e = table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("e")
    )
    clean = F.filter(F.col("e"), lambda x: ~F.isnan(x))
    nrm = F.sqrt(
        F.aggregate(clean, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    # null-guard every per-row stat: non-ANSI Spark evaluates size(NULL)
    # to -1 (which would count a NULL vector as wrong-dim) while the
    # oracle's len(NULL) is NULL — wrap in when(isNotNull) so a NULL
    # embedding row contributes to n_vecs only, in both engines and in
    # both ANSI modes
    has = F.col("e").isNotNull()
    f = e.select(
        F.when(has, F.size("e")).alias("dim"),
        F.when(
            has, F.size(F.filter(F.col("e"), lambda x: F.isnan(x)))
        ).alias("n_nan"),
        F.when(has, nrm).alias("nrm"),
    )
    return f.agg(
        F.count("*").alias("n_vecs"),
        F.coalesce(F.sum(F.when(F.col("dim") != 64, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("n_wrong_dim"),
        F.coalesce(F.sum(F.when(F.col("n_nan") > 0, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("n_with_nan"),
        F.coalesce(F.sum(F.when(F.col("nrm") == 0.0, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("n_zero_norm"),
        r6(F.avg("nrm")).alias("avg_norm"),
    )


@q(
    "q_join_size_estimate",
    """
    WITH a AS (SELECT user_id AS k, count(*) AS na FROM events GROUP BY 1),
    b AS (SELECT o_custkey AS k, count(*) AS nb FROM orders GROUP BY 1),
    j AS (SELECT a.k, na * nb AS prod FROM a JOIN b USING (k))
    SELECT count(*) AS n_matching_keys,
           CAST(coalesce(sum(prod), 0) AS BIGINT) AS est_rows,
           CAST(coalesce(max(prod), 0) AS BIGINT) AS max_key_product
    FROM j
    """,
)
def q_join_size_estimate(spark, sf_dir):
    """Planner-style join-size estimation WITHOUT running the join: the
    exact output cardinality of events ⋈ orders on (user_id = o_custkey)
    is Σ_k count_a(k)·count_b(k) over matching keys, computed from the
    two per-key COUNT tables — two map-side-combined aggregates plus a
    join bounded by |distinct keys|, never the fact-×-fact shuffle the
    estimate is ABOUT. max_key_product is the skew statistic the same
    planner uses to pick salting/AQE-skew handling: the single hottest
    key's contribution to the join output."""
    ev = events(spark, sf_dir)
    orders = table(spark, sf_dir, "orders")
    a = ev.groupBy(F.col("user_id").alias("k")).agg(F.count("*").alias("na"))
    b = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").alias("nb")
    )
    j = a.join(b, "k").select((F.col("na") * F.col("nb")).alias("prod"))
    return j.agg(
        F.count("*").alias("n_matching_keys"),
        F.coalesce(F.sum("prod"), F.lit(0)).cast("bigint").alias("est_rows"),
        F.coalesce(F.max("prod"), F.lit(0)).cast("bigint").alias("max_key_product"),
    )


@q(
    "q_snapshot_diff",
    """
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderdate < TIMESTAMP '1996-01-01'
    ),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             o_totalprice
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
    )
    SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
           CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                WHEN v2.o_orderkey IS NULL THEN 'removed'
                WHEN v1.o_orderstatus <> v2.o_orderstatus
                     OR v1.o_totalprice <> v2.o_totalprice THEN 'changed'
                ELSE 'unchanged' END AS change,
           v1.o_orderstatus AS status_before,
           v2.o_orderstatus AS status_after
    FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
    WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
       OR v1.o_orderstatus <> v2.o_orderstatus
       OR v1.o_totalprice <> v2.o_totalprice
    """,
)
def q_snapshot_diff(spark, sf_dir):
    """Snapshot diff between two table versions (the data-engineering
    audit behind every backfill sign-off): full-outer join on the key,
    classify added / removed / changed (value comparison), emit only the
    delta. Versions are simulated as date-cutoff views with a
    deterministic mutation (status flip on orderkey % 97). One co-keyed
    shuffle join; at scale both sides bucket/sort by the key so the join
    is exchange-free on read."""
    orders = table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderdate") < "1996-01-01").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("s1"),
        F.col("o_totalprice").alias("p1"),
    )
    v2 = orders.filter(F.col("o_orderdate") < "1997-01-01").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("s2"),
        F.col("o_totalprice").alias("p2"),
    )
    j = v1.join(v2, "o_orderkey", "full_outer")
    change = (
        F.when(F.col("s1").isNull(), F.lit("added"))
        .when(F.col("s2").isNull(), F.lit("removed"))
        .when(
            (F.col("s1") != F.col("s2")) | (F.col("p1") != F.col("p2")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change") != "unchanged")
        .select(
            "o_orderkey",
            "change",
            F.col("s1").alias("status_before"),
            F.col("s2").alias("status_after"),
        )
    )


@q(
    "q_column_corr",
    """
    WITH s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             SUM(l_quantity) AS sq, SUM(l_quantity * l_quantity) AS sqq,
             SUM(l_extendedprice) AS se,
             SUM(l_extendedprice * l_extendedprice) AS see,
             SUM(l_discount) AS sd, SUM(l_discount * l_discount) AS sdd,
             SUM(l_quantity * l_extendedprice) AS sqe,
             SUM(l_quantity * l_discount) AS sqd,
             SUM(l_extendedprice * l_discount) AS sed
      FROM lineitem
    )
    SELECT pair, floor(num / sqrt(vx * vy) * 1000000.0 + 0.5) / 1000000.0 AS corr
    FROM (
      SELECT 'quantity~extendedprice' AS pair,
             n * sqe - sq * se AS num,
             n * sqq - sq * sq AS vx, n * see - se * se AS vy FROM s
      UNION ALL
      SELECT 'quantity~discount', n * sqd - sq * sd,
             n * sqq - sq * sq, n * sdd - sd * sd FROM s
      UNION ALL
      SELECT 'extendedprice~discount', n * sed - se * sd,
             n * see - se * se, n * sdd - sd * sd FROM s
    )
    """,
)
def q_column_corr(spark, sf_dir):
    """Pairwise Pearson correlation of three lineitem measures in ONE
    scan — the correlated-columns statistic a cost-based optimizer (and
    any feature-selection pass) needs. All 10 sufficient sums come from
    a single map-side-combined aggregate; each pair's r is closed-form
    arithmetic on that 1-row table (no per-pair rescan, no corr() UDAF
    whose internal update order differs across engines)."""
    li = table(spark, sf_dir, "lineitem")
    q, e, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    s = li.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(q).alias("sq"), F.sum(q * q).alias("sqq"),
        F.sum(e).alias("se"), F.sum(e * e).alias("see"),
        F.sum(d).alias("sd"), F.sum(d * d).alias("sdd"),
        F.sum(q * e).alias("sqe"), F.sum(q * d).alias("sqd"),
        F.sum(e * d).alias("sed"),
    )

    def pair(name, num, vx, vy):
        return s.select(
            F.lit(name).alias("pair"),
            r6p((num) / F.sqrt((vx) * (vy))).alias("corr"),
        )

    n = F.col("n")
    out = pair(
        "quantity~extendedprice",
        n * F.col("sqe") - F.col("sq") * F.col("se"),
        n * F.col("sqq") - F.col("sq") * F.col("sq"),
        n * F.col("see") - F.col("se") * F.col("se"),
    ).unionByName(
        pair(
            "quantity~discount",
            n * F.col("sqd") - F.col("sq") * F.col("sd"),
            n * F.col("sqq") - F.col("sq") * F.col("sq"),
            n * F.col("sdd") - F.col("sd") * F.col("sd"),
        )
    ).unionByName(
        pair(
            "extendedprice~discount",
            n * F.col("sed") - F.col("se") * F.col("sd"),
            n * F.col("see") - F.col("se") * F.col("se"),
            n * F.col("sdd") - F.col("sd") * F.col("sd"),
        )
    )
    return out


@q(
    "q_table_checksum",
    """
    SELECT count(*) AS n_rows,
           CAST(CAST(SUM(CAST(('0x' || substr(md5(
                     CAST(o_orderkey AS VARCHAR) || chr(31)
                     || o_orderstatus || chr(31)
                     || CAST(o_totalprice AS VARCHAR)), 1, 12)) AS BIGINT))
                AS DECIMAL(38, 0)) AS VARCHAR) AS checksum
    FROM orders
    """,
)
def q_table_checksum(spark, sf_dir):
    """Order-insensitive table checksum — the anti-entropy primitive for
    comparing replicas/backfills without sorting or moving the data: sum
    of per-row 48-bit content hashes, accumulated in DECIMAL(38,0) so the
    sum is EXACT under any partitioning/association (a BIGINT sum could
    wrap engine-dependently; decimal can't). One map-side-combined
    aggregate; equal checksums + equal counts ⇒ replicas agree with
    2^-48-scale collision odds per differing row. Float columns are
    stringified through CAST — both engines print shortest-roundtrip
    doubles. The checksum is EMITTED AS A STRING: the sum exceeds int64
    at sf≥0.1, and >int64 DECIMAL(38,0) scalars canonicalize differently
    across engines' pandas conversions (DuckDB coerces to float64,
    Spark's toPandas keeps object Decimals), which hash-mismatched a
    value-identical result in CORRECTNESS_r05 — a string round-trips
    identically everywhere."""
    o = table(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "\x1f",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("string"),
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 12), 16, 10).cast("bigint")
    return o.agg(
        F.count("*").alias("n_rows"),
        F.sum(h.cast("decimal(38,0)")).cast("string").alias("checksum"),
    )


@q(
    "q_dataset_split",
    """
    WITH h AS (
      SELECT lang,
             CAST(('0x' || substr(md5('split' || chr(31)
                                      || CAST(doc_id AS VARCHAR)), 1, 12))
                  AS BIGINT) AS hv
      FROM documents
    )
    SELECT lang,
           CASE WHEN hv % 10 < 8 THEN 'train'
                WHEN hv % 10 = 8 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n
    FROM h GROUP BY 1, 2
    """,
)
def q_dataset_split(spark, sf_dir):
    """Deterministic train/val/test split (80/10/10 by salted doc-id
    hash) with the per-language composition report — the
    reproducible-split primitive every training pipeline needs (hash
    split ⇒ membership is stable under re-runs, insertions never move an
    existing doc between splits). Pure map-side expressions + one
    aggregate; the oracle replays the identical hash arithmetic."""
    from ..operators.sketches import uniform_hash48

    docs = ptable(spark, sf_dir)
    hv = uniform_hash48(
        F.concat_ws("\x1f", F.lit("split"), F.col("doc_id").cast("string"))
    )
    split = (
        F.when(hv % 10 < 8, F.lit("train"))
        .when(hv % 10 == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n"))
    )


@q(
    "q_rfm_segments",
    """
    WITH m AS (
      SELECT user_id,
             max(epoch_us(ts)) AS last_us,
             count(*) AS frequency,
             floor(COALESCE(SUM(value), 0.0) * 1000000.0 + 0.5) / 1000000.0
               AS monetary
      FROM events GROUP BY 1
    ),
    g AS (SELECT max(last_us) AS now_us FROM m)
    SELECT user_id,
           (g.now_us - last_us) // 86400000000 AS recency_days,
           frequency, monetary,
           ntile(4) OVER (ORDER BY last_us DESC, user_id) AS r_quartile,
           ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f_quartile,
           ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_quartile
    FROM m CROSS JOIN g
    """,
)
def q_rfm_segments(spark, sf_dir):
    """RFM (recency / frequency / monetary) segmentation — the classic
    behavioral-cohort readout: per user, days since last event, event
    count, value sum, and the 1-4 quartile along each axis (deterministic
    ntile semantics with user_id tiebreak; quartile 1 = best). One
    aggregate to the |users|-row table; the reference "now" and the user
    count ride a 1-row equi-join on a literal key (BroadcastHashJoin, not
    a nested loop), so results are reproducible, not wall-clock-dependent.
    The quartiles are NOT window ntiles: each axis gets an exact global
    row_number from rank.global_rank (range-partitioned, windowless) and
    the 1-4 bucket is recovered arithmetically — the first n%4 buckets
    take ceil(n/4) rows, the rest floor(n/4), which is ntile(4)'s exact
    contract — so the |users| row volume never crosses a single
    partition at any scale. The bucket arithmetic is the shared
    rank.ntile_from_rank formula (same code path global_ntile uses);
    the three ranks reuse ONE (now, count) broadcast rather than three
    global_ntile calls, whose per-call count re-derivation compounds the
    physical plan across the chained calls (measured: 198 Exchange nodes
    vs 15 here)."""
    from ..operators.rank import global_rank, ntile_from_rank

    ev = events(spark, sf_dir)
    m = ev.groupBy("user_id").agg(
        F.max("ts_us").alias("last_us"),
        F.count("*").alias("frequency"),
        r6p(F.coalesce(F.sum("value"), F.lit(0.0))).alias("monetary"),
    )
    g = (
        m.agg(F.max("last_us").alias("now_us"), F.count("*").alias("n_users"))
        .withColumn("__k", F.lit(1))
    )
    out = m.withColumn("__k", F.lit(1)).join(F.broadcast(g), "__k").drop("__k")
    out = global_rank(out, [F.col("last_us").desc(), F.col("user_id")], "__rr")
    out = global_rank(out, [F.col("frequency").desc(), F.col("user_id")], "__fr")
    out = global_rank(out, [F.col("monetary").desc(), F.col("user_id")], "__mr")
    return out.select(
        "user_id",
        F.expr("(now_us - last_us) div 86400000000").alias("recency_days"),
        "frequency",
        "monetary",
        ntile_from_rank("__rr", "n_users", 4).alias("r_quartile"),
        ntile_from_rank("__fr", "n_users", 4).alias("f_quartile"),
        ntile_from_rank("__mr", "n_users", 4).alias("m_quartile"),
    )


@q(
    "q_unpivot_melt",
    """
    SELECT l_orderkey, l_linenumber, measure, round(val, 6) AS val
    FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
             CAST(l_quantity AS DOUBLE) AS val FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice',
             CAST(l_extendedprice AS DOUBLE) FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount',
             CAST(l_discount AS DOUBLE) FROM lineitem
    )
    WHERE l_orderkey % 50 = 0
    """,
)
def q_unpivot_melt(spark, sf_dir):
    """Wide→long reshaping via Spark's native ``unpivot`` (melt) — the R2
    pivot's inverse, needed to feed per-measure operators (histograms,
    drift audits) from wide fact tables. Catalyst expands it with a
    single Expand node — one scan, no join, 3× rows out; the oracle is
    the equivalent UNION ALL. Filter kept pushed BELOW the expand (plan
    prunes before multiplying)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    wide = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("quantity"),
        F.col("l_extendedprice").cast("double").alias("extendedprice"),
        F.col("l_discount").cast("double").alias("discount"),
    )
    long = wide.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["quantity", "extendedprice", "discount"],
        "measure",
        "val",
    )
    return long.select(
        "l_orderkey", "l_linenumber", "measure", r6(F.col("val")).alias("val")
    )


@q(
    "q_lttb_downsample",
    """
    WITH pts AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket,
             epoch_us(ts) AS t,
             CAST(epoch_us(ts) AS DOUBLE) / 3600000000.0 AS xn,
             value AS val, event_id AS pid
      FROM events WHERE value IS NOT NULL
    ),
    means AS (
      SELECT event_type, bucket, AVG(xn) AS mx, AVG(val) AS my
      FROM pts GROUP BY 1, 2
    ),
    anch AS (
      SELECT event_type, bucket,
             COALESCE(lag(mx) OVER w, mx) AS px,
             COALESCE(lag(my) OVER w, my) AS py,
             COALESCE(lead(mx) OVER w, mx) AS nx,
             COALESCE(lead(my) OVER w, my) AS ny
      FROM means WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
    ),
    scored AS (
      SELECT p.event_type, p.bucket, p.t, p.val, p.pid,
             CAST(floor(abs((a.px - a.nx) * (p.val - a.py)
                            - (a.px - p.xn) * (a.ny - a.py))
                        * 1000000.0 + 0.5) AS BIGINT) AS area_u
      FROM pts p JOIN anch a USING (event_type, bucket)
    )
    SELECT event_type, bucket, t AS ts, val
    FROM (
      SELECT *, row_number() OVER (PARTITION BY event_type, bucket
                                   ORDER BY area_u DESC, t, pid) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def q_lttb_downsample(spark, sf_dir):
    """Distributed LTTB-style plot downsampling
    (operators/downsample.py::lttb_mean): per (event_type, hour bucket),
    keep the point whose triangle against the neighboring buckets' means
    is largest — the shape-preserving reduction that makes plotting a
    100M-point series feasible (the engine-side answer to the
    reference's scoped-out matplotlib surface,
    /root/reference/seaexplorertools/process_adcp.py's plot_* functions).
    Area quantized to BIGINT µ-units before the argmax so the selection
    is engine-exact; one bucket aggregate + tiny anchor windows +
    broadcast back — data rows shuffle once."""
    from ..operators.downsample import lttb_mean

    ev = events(spark, sf_dir).filter(F.col("value").isNotNull())
    return lttb_mean(
        ev, "ts_us", "value", bucket_us=3600000000, id_col="event_id",
        group_cols=["event_type"],
    )


@q(
    "q_session_paths",
    """
    WITH s AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS boundary
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    sess AS (
      SELECT user_id, event_id, event_type, t,
             SUM(boundary) OVER (PARTITION BY user_id
                                 ORDER BY t, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM s
    ),
    paths AS (
      SELECT user_id, session_id,
             array_to_string(
               list_slice(list(event_type ORDER BY t, event_id), 1, 5),
               '>') AS path
      FROM sess GROUP BY 1, 2
    )
    SELECT path, count(*) AS n_sessions
    FROM paths GROUP BY 1 HAVING count(*) >= 5
    """,
)
def q_session_paths(spark, sf_dir):
    """Top session paths (sequence mining): sessionize on a 30-min gap,
    reduce each session to its first-5-event type sequence, count path
    frequencies above min support — the what-do-journeys-look-like
    readout behind funnel design. The per-session sequence is built with
    sort_array(collect_list(struct)) so ordering is deterministic inside
    the aggregate (no ordered-window re-shuffle); everything else is two
    map-side-combinable aggregates."""
    ev = events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(*EV_ORDER)
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    boundary = F.when(gap.isNull() | (gap > 1800000000), 1).otherwise(0)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts_us",
        F.sum(boundary).over(wc).cast("long").alias("session_id"),
    )
    seq = F.transform(
        F.slice(
            F.sort_array(
                F.collect_list(F.struct("ts_us", "event_id", "event_type"))
            ),
            1,
            5,
        ),
        lambda st: st["event_type"],
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.array_join(seq, ">").alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .filter(F.col("n_sessions") >= 5)
    )


@q(
    "q_weighted_quantiles",
    """
    WITH s AS (
      SELECT l_returnflag AS grp, l_extendedprice AS x,
             SUM(CAST(l_quantity AS BIGINT))
               OVER (PARTITION BY l_returnflag
                     ORDER BY l_extendedprice, l_orderkey, l_linenumber
                     ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(CAST(l_quantity AS BIGINT))
               OVER (PARTITION BY l_returnflag) AS wtot
      FROM lineitem
    )
    SELECT grp, CAST(MAX(wtot) AS BIGINT) AS w_total,
           MIN(CASE WHEN 4 * cum >= wtot THEN x END) AS p25,
           MIN(CASE WHEN 2 * cum >= wtot THEN x END) AS p50,
           MIN(CASE WHEN 10 * cum >= 9 * wtot THEN x END) AS p90
    FROM s GROUP BY grp
    """,
)
def q_weighted_quantiles(spark, sf_dir):
    """Per-returnflag QUANTITY-weighted price quantiles
    (operators/stats.py::weighted_quantiles): the smallest price whose
    cumulative quantity reaches q·W — "the median unit ships at what
    price", each row counted by its weight. Thresholds are
    cross-multiplied INTEGER comparisons (4·cum ≥ W …) over a BIGINT
    cumsum — bit-identical cross-engine, zero rounding. One ordered
    window + one aggregate."""
    from ..operators.stats import weighted_quantiles

    li = table(spark, sf_dir, "lineitem").withColumn(
        "__tb", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    out = weighted_quantiles(
        li, "l_returnflag", "l_extendedprice", F.col("l_quantity"), "__tb"
    )
    return out.select(
        F.col("l_returnflag").alias("grp"), "w_total", "p25", "p50", "p90"
    )


@q(
    "q_best_split",
    """
    WITH cells AS (
      SELECT n_chars AS t, count(*) AS n,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos
      FROM documents GROUP BY 1
    ),
    s AS (
      SELECT t,
             CAST(SUM(n) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nl,
             CAST(SUM(pos) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pl,
             CAST(SUM(n) OVER () AS BIGINT) AS nn,
             CAST(SUM(pos) OVER () AS BIGINT) AS pp
      FROM cells
    ),
    g AS (
      SELECT t, nl,
             (CASE WHEN pp > 0 AND pp < nn
                   THEN -(CAST(pp AS DOUBLE) / nn) * ln(CAST(pp AS DOUBLE) / nn)
                   ELSE 0.0 END
              + CASE WHEN pp > 0 AND pp < nn
                     THEN -(1.0 - CAST(pp AS DOUBLE) / nn)
                          * ln(1.0 - CAST(pp AS DOUBLE) / nn)
                     ELSE 0.0 END) AS hp,
             (CASE WHEN pl > 0 AND pl < nl
                   THEN -(CAST(pl AS DOUBLE) / nl) * ln(CAST(pl AS DOUBLE) / nl)
                   ELSE 0.0 END
              + CASE WHEN pl > 0 AND pl < nl
                     THEN -(1.0 - CAST(pl AS DOUBLE) / nl)
                          * ln(1.0 - CAST(pl AS DOUBLE) / nl)
                     ELSE 0.0 END) AS hl,
             (CASE WHEN pp - pl > 0 AND pp - pl < nn - nl
                   THEN -(CAST(pp - pl AS DOUBLE) / (nn - nl))
                        * ln(CAST(pp - pl AS DOUBLE) / (nn - nl))
                   ELSE 0.0 END
              + CASE WHEN pp - pl > 0 AND pp - pl < nn - nl
                     THEN -(1.0 - CAST(pp - pl AS DOUBLE) / (nn - nl))
                          * ln(1.0 - CAST(pp - pl AS DOUBLE) / (nn - nl))
                     ELSE 0.0 END) AS hr,
             nn
      FROM s WHERE nl < nn
    ),
    scored AS (
      SELECT t, nl,
             floor((hp - (CAST(nl AS DOUBLE) / nn * hl
                          + CAST(nn - nl AS DOUBLE) / nn * hr))
                   * 1000000.0 + 0.5) / 1000000.0 AS ig,
             floor(hp * 1000000.0 + 0.5) / 1000000.0 AS parent_entropy
      FROM g
    )
    SELECT t AS split_at, ig, parent_entropy, nl AS n_left
    FROM (SELECT *, row_number() OVER (ORDER BY ig DESC, t ASC) AS rn FROM scored)
    WHERE rn = 1
    """,
)
def q_best_split(spark, sf_dir):
    """Distributed decision-tree split finding: the n_chars threshold
    that best separates lang='en' by information gain
    (operators/stats.py::best_split). ONE aggregate to the
    |distinct values| table, cumulative class counts over it, closed-form
    entropies from exact BIGINT counts, 6-dp-rounded-gain argmax with
    smallest-threshold tiebreak. The shuffle is |distinct values| — a
    tree trainer fans this out per (feature, node), never per row."""
    from ..operators.stats import best_split

    docs = ptable(spark, sf_dir)
    return best_split(docs, "n_chars", F.col("lang") == "en")


def _pca_gram_oracle_sql(dim: int = 64, n_iter: int = 6) -> str:
    """DuckDB replay of operators/pca.py::top_component_gram — covariance
    cells in SQL, then the SAME driver-side iteration unrolled as CTEs
    (matrix-vector product per round, normalize, sign-canonicalize)."""
    its = []
    prev = "v0"
    for k in range(1, n_iter + 1):
        its.append(
            f"""y{k} AS (
      SELECT cov.i AS i, SUM(cov.c * {prev}.v) AS y
      FROM cov JOIN {prev} ON {prev}.i = cov.j GROUP BY 1
    ),
    v{k} AS (SELECT i, y / (SELECT sqrt(SUM(y * y)) FROM y{k}) AS v FROM y{k})"""
        )
        prev = f"v{k}"
    its_sql = ",\n    ".join(its)
    return f"""
    WITH x AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    idx AS (SELECT unnest(generate_series(1, {dim})) AS i),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM x),
    flat AS (SELECT vec_id, i, emb[i] AS xi FROM x CROSS JOIN idx),
    sums AS (SELECT i, SUM(xi) AS si FROM flat GROUP BY i),
    cells AS (
      SELECT a.i AS i, b.i AS j, SUM(a.xi * b.xi) AS sxx
      FROM flat a JOIN flat b USING (vec_id) GROUP BY 1, 2
    ),
    cov AS (
      SELECT cells.i, cells.j, sxx - sa.si * sb.si / n.n AS c
      FROM cells JOIN sums sa ON sa.i = cells.i
                 JOIN sums sb ON sb.i = cells.j
                 CROSS JOIN n
    ),
    v0 AS (SELECT i, 1.0 / sqrt({dim}.0) AS v FROM idx),
    {its_sql},
    sgn AS (SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s
            FROM {prev} ORDER BY abs(v) DESC, i ASC LIMIT 1)
    SELECT CAST(i - 1 AS INTEGER) AS dim,
           floor(v * sgn.s * 1000000.0 + 0.5) / 1000000.0 AS loading
    FROM {prev} CROSS JOIN sgn
    """


@q("ann_pca_gram", _pca_gram_oracle_sql(64, 6))
def ann_pca_gram(spark, sf_dir):
    """Top principal component via the ONE-PASS Gram/covariance matrix +
    driver-side power iteration (operators/pca.py::top_component_gram) —
    the right PCA regime when dim is small enough to materialize dim²:
    one distributed aggregation total, versus one distributed pass PER
    iteration (ann_pca_top, the large-dim regime; both conventions
    identical, loadings agree to 6 dp — pinned in tests). The oracle
    computes the covariance cells in SQL and unrolls the same six
    matrix-vector rounds as CTEs."""
    from ..operators.pca import top_component_gram

    e = table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    return top_component_gram(spark, e, "v", dim=64, n_iter=6)


def _pca_oracle_sql(dim: int = 64, n_iter: int = 6) -> str:
    """DuckDB replay of operators/pca.py::power_iteration_top — the SAME
    update expressions (s = x·v − μ·v; y = Σ x s − μ Σ s; normalize;
    final largest-|loading| sign fix), unrolled over fixed iterations."""
    v0 = 1.0 / math.sqrt(dim)
    parts = [
        f"""WITH cells AS MATERIALIZED (
      SELECT vec_id, r.range + 1 AS pos1,
             CAST(embedding[r.range + 1] AS DOUBLE) AS val
      FROM embeddings CROSS JOIN range({dim}) r
    ),
    mu AS MATERIALIZED (SELECT pos1, AVG(val) AS m FROM cells GROUP BY pos1),
    v0 AS (SELECT r.range + 1 AS pos1, {v0!r} AS v FROM range({dim}) r)"""
    ]
    prev = "v0"
    for t in range(1, n_iter + 1):
        parts.append(
            f"""c{t} AS MATERIALIZED (SELECT SUM(m * v) AS muv FROM mu JOIN {prev} USING (pos1)),
    s{t} AS MATERIALIZED (SELECT vec_id, SUM(val * v) - (SELECT muv FROM c{t}) AS s
             FROM cells JOIN {prev} USING (pos1) GROUP BY vec_id),
    a{t} AS MATERIALIZED (SELECT pos1, SUM(val * s) AS xy, SUM(s) AS ssum
             FROM cells JOIN s{t} USING (vec_id) GROUP BY pos1),
    y{t} AS MATERIALIZED (SELECT a{t}.pos1, xy - m * ssum AS y FROM a{t} JOIN mu USING (pos1)),
    n{t} AS MATERIALIZED (SELECT sqrt(SUM(y * y)) AS nrm FROM y{t}),
    v{t} AS MATERIALIZED (SELECT pos1, y / (SELECT nrm FROM n{t}) AS v FROM y{t})"""
        )
        prev = f"v{t}"
    parts.append(
        f"""piv AS (SELECT pos1 FROM {prev} ORDER BY abs(v) DESC, pos1 LIMIT 1),
    sgn AS (SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s
            FROM {prev} WHERE pos1 = (SELECT pos1 FROM piv))
    SELECT pos1 - 1 AS dim, round(v * (SELECT s FROM sgn), 6) + 0.0 AS loading
    FROM {prev}"""
    )
    return ",\n    ".join(parts)


@q("ann_pca_top", _pca_oracle_sql())
def ann_pca_top(spark, sf_dir):
    """Top principal component of the centered embedding matrix by 6
    fixed power iterations (operators/pca.py) — one aggregate pass per
    iteration, scores computed row-local from the ARRAY with a literal v
    (no 64× materialization), |dim|-row driver collect per step. The
    oracle unrolls the identical update algebra in SQL; 6-dp rounding
    absorbs float-summation reordering (contraction mapping — see module
    docstring)."""
    from ..operators.pca import top_component_df

    emb = table(spark, sf_dir, "embeddings")
    return top_component_df(spark, emb, "embedding", dim=64, n_iter=6)


@q(
    "q_k_anonymity",
    """
    SELECT c.c_custkey,
           CASE WHEN g0.n0 >= 10 THEN 0
                WHEN g1.n1 >= 10 THEN 1
                ELSE 2 END AS anon_level
    FROM customer c
    JOIN (SELECT c_nationkey, c_mktsegment, count(*) AS n0
          FROM customer GROUP BY 1, 2) g0
      ON c.c_nationkey = g0.c_nationkey AND c.c_mktsegment = g0.c_mktsegment
    JOIN (SELECT c_nationkey, count(*) AS n1
          FROM customer GROUP BY 1) g1
      ON c.c_nationkey = g1.c_nationkey
    """,
)
def q_k_anonymity(spark, sf_dir):
    """k-anonymity generalization audit (operators/privacy.py::
    k_anonymity_levels): every customer gets the first level of the
    (nation, segment) → (nation) → (all) ladder whose equivalence class
    reaches k=10. Class sizes are two QI-cardinality aggregates joined
    back broadcast — row volume never re-shuffles."""
    from ..operators.privacy import k_anonymity_levels

    cust = table(spark, sf_dir, "customer")
    out = k_anonymity_levels(
        cust, [["c_nationkey", "c_mktsegment"], ["c_nationkey"]], k=10
    )
    return out.select("c_custkey", "anon_level")


def _zorder_oracle_sql() -> str:
    from ..operators.zorder import quantize_sql, zorder_key2_sql

    qp = quantize_sql("l_partkey", "(SELECT min(l_partkey) FROM lineitem)",
                      "(SELECT max(l_partkey) FROM lineitem)")
    qs = quantize_sql("l_suppkey", "(SELECT min(l_suppkey) FROM lineitem)",
                      "(SELECT max(l_suppkey) FROM lineitem)")
    return f"""
    SELECT bucket, count(*) AS n,
           min(l_partkey) AS p_min, max(l_partkey) AS p_max,
           min(l_suppkey) AS s_min, max(l_suppkey) AS s_max
    FROM (SELECT l_partkey, l_suppkey,
                 ({zorder_key2_sql(qp, qs)} >> 24) AS bucket
          FROM lineitem)
    GROUP BY bucket
    """


@q("q_zorder_layout", _zorder_oracle_sql())
def q_zorder_layout(spark, sf_dir):
    """Z-order clustering layout audit (operators/zorder.py): quantize
    (l_partkey, l_suppkey) to 16 bits each, interleave into a 32-bit
    Morton key, bucket by its top 8 bits — the file assignment an
    OPTIMIZE ZORDER BY would produce — and report per-bucket min/max of
    BOTH dimensions. Each bucket provably spans ≤ 1/16 of each dim's
    domain (4 leading bits per dim), i.e. file-level min/max pruning
    works for predicates on either column; a single-column sort bounds
    only one. Pure integer shift/mask expressions, bit-identical to the
    oracle's chain."""
    from ..operators.zorder import quantize, zorder_key2

    li = table(spark, sf_dir, "lineitem")
    lo_hi = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).collect()[0]
    plo, phi, slo, shi = (int(v) for v in lo_hi)
    zkey = zorder_key2(
        quantize("l_partkey", plo, phi), quantize("l_suppkey", slo, shi)
    )
    return (
        li.select("l_partkey", "l_suppkey", F.shiftright(zkey, 24).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("l_partkey").alias("p_min"),
            F.max("l_partkey").alias("p_max"),
            F.min("l_suppkey").alias("s_min"),
            F.max("l_suppkey").alias("s_max"),
        )
    )


@q(
    "dd_edit_distance_pairs",
    """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.text, b.text) AS INTEGER) AS dist
    FROM documents a JOIN documents b ON a.doc_id < b.doc_id
    WHERE a.n_chars <= 300 AND b.n_chars <= 300
      AND abs(length(a.text) - length(b.text)) <= 4
      AND levenshtein(a.text, b.text) <= 4
    """,
)
def dd_edit_distance_pairs(spark, sf_dir):
    """Typo-level near-dup pairs: exact Levenshtein-distance self-join at
    ed ≤ 4 via pigeonhole segment blocking (operators/editdist.py::
    edit_distance_join — candidates from a (length, segment, substring-
    hash) equi-join, verified with banded levenshtein; no N² stage). The
    oracle IS the N² formulation, so every hash-match certifies zero lost
    pairs. Bounded to n_chars ≤ 300 to keep the oracle's quadratic cost
    sane — the Spark path has no such need."""
    from ..operators.editdist import edit_distance_join

    docs = ptable(spark, sf_dir).filter(F.col("n_chars") <= 300)
    return edit_distance_join(docs, "doc_id", "text", max_dist=4)


@q(
    "dd_substring_spans",
    """
    WITH g AS (
      SELECT doc_id,
             CAST(unnest(generate_series(1, length(text) - 31)) AS INTEGER) AS pos,
             text
      FROM documents WHERE length(text) >= 32
    ),
    gs AS (SELECT doc_id, pos, substr(text, pos, 32) AS gram FROM g),
    d AS (SELECT doc_id, pos FROM (
            SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS n_occ
            FROM gs)
          WHERE n_occ >= 2),
    i AS (SELECT doc_id, pos, pos + 31 AS e,
                 CASE WHEN pos > coalesce(max(pos + 31) OVER (
                          PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -1) + 1
                      THEN 1 ELSE 0 END AS ni
          FROM d),
    s AS (SELECT doc_id, pos, e,
                 sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS island
          FROM i)
    SELECT doc_id, min(pos) AS span_start, max(e) AS span_end,
           max(e) - min(pos) + 1 AS span_len
    FROM s GROUP BY doc_id, island
    """,
)
def dd_substring_spans(spark, sf_dir):
    """Exact duplicated-substring spans (operators/dedup.py::
    duplicate_substring_spans, k=32): maximal per-doc char ranges covered
    by 32-grams occurring ≥ 2 times anywhere in the corpus — the
    character-level dedup of Lee et al. 2022, completing the dedup family
    (exact doc / MinHash-LSH / SimHash / shingle-Jaccard / embedding /
    winnowing-containment / THIS). One gram groupKey shuffle
    (|bytes|·k — winnowing fingerprints are the bounded scale path when
    that is too much) + per-doc gaps-and-islands interval merge."""
    from ..operators.dedup import duplicate_substring_spans

    docs = ptable(spark, sf_dir)  # ptable owns the parallelism guard
    return duplicate_substring_spans(docs, k=32)


@q(
    "dd_substring_dedup_apply",
    f"""
    WITH spans AS ({ORACLES["dd_substring_spans"]}),
    segs AS (
      SELECT doc_id,
             coalesce(lag(span_end) OVER (PARTITION BY doc_id
                                          ORDER BY span_start) + 1, 1)
               AS seg_start,
             span_start - 1 AS seg_end
      FROM spans
      UNION ALL
      SELECT doc_id, max(span_end) + 1 AS seg_start,
             CAST(NULL AS INTEGER) AS seg_end
      FROM spans GROUP BY doc_id
    ),
    pieces AS (
      SELECT s.doc_id, s.seg_start,
             substr(d.text, s.seg_start,
                    coalesce(s.seg_end, length(d.text)) - s.seg_start + 1)
               AS piece
      FROM segs s JOIN documents d USING (doc_id)
    ),
    cl AS (
      SELECT doc_id,
             coalesce(string_agg(piece, '' ORDER BY seg_start), '') AS cleaned
      FROM pieces GROUP BY doc_id
    ),
    rm AS (SELECT doc_id,
                  CAST(sum(span_end - span_start + 1) AS BIGINT) AS n_removed
           FROM spans GROUP BY doc_id)
    SELECT cl.doc_id, cl.cleaned, rm.n_removed FROM cl JOIN rm USING (doc_id)
    UNION ALL
    SELECT d.doc_id, d.text AS cleaned, CAST(0 AS BIGINT) AS n_removed
    FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM spans)
    """,
)
def dd_substring_dedup_apply(spark, sf_dir):
    """The TRANSFORMATION half of substring dedup (operators/dedup.py::
    cut_spans): cut every duplicated span out of the text, pass span-free
    docs through, report chars removed. Kept segments are the gaps
    between consecutive spans (lag window over the doc's FEW span rows —
    never over corpus rows) and concatenate with in-aggregate
    deterministic ordering, so no corpus-wide ordered window exists
    anywhere in the plan."""
    from ..operators.dedup import cut_spans, duplicate_substring_spans

    docs = ptable(spark, sf_dir)  # ptable owns the parallelism guard
    spans = duplicate_substring_spans(docs, k=32)
    return cut_spans(docs, spans)




@q(
    "mm_exif_meta",
    """
    SELECT doc_id AS media_id,
           1 + doc_id % 8 AS orientation,
           'Maker-' || CAST(doc_id % 5 AS VARCHAR) AS make,
           'M-' || CAST(doc_id % 3 AS VARCHAR) AS model,
           '2020:01:01 00:00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS datetime,
           '2019:12:31 23:59:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS datetime_original,
           16 * (1 + doc_id % 3) AS pixel_x,
           8 * (1 + doc_id % 4) AS pixel_y
    FROM documents
    """,
)
def mm_exif_meta(spark, sf_dir):
    """EXIF metadata extraction over REAL JPEG APP1 segments
    (operators/exif.py): per document a real JPEG with a spliced
    spec-correct TIFF Exif block — orientation/make/model/timestamps and
    Exif-IFD pixel dims all closed-form in doc_id, byte order
    ALTERNATING little/big-endian per row so both TIFF endiannesses are
    driver-checked exactly. The fields an image-corpus gate filters on
    before any pixel decode (orientation normalization, camera dedup
    families, temporal splits). mapInPandas, zero shuffle; hostile
    offsets/counts are bounded by the container per row."""
    from ..operators.exif import documents_as_exif_jpeg, extract_exif

    media = documents_as_exif_jpeg(ptable(spark, sf_dir))
    return extract_exif(media)


@q(
    "mm_id3_meta",
    """
    SELECT doc_id AS media_id,
           'Track-' || CAST(doc_id % 97 AS VARCHAR) AS title,
           'Artist-' || CAST(doc_id % 13 AS VARCHAR) AS artist,
           'Album-' || CAST(doc_id % 7 AS VARCHAR) AS album,
           CAST(1970 + doc_id % 50 AS VARCHAR) AS year,
           CAST(1 + doc_id % 20 AS VARCHAR) AS track
    FROM documents
    """,
)
def mm_id3_meta(spark, sf_dir):
    """ID3v2 tag extraction over REAL tagged MP3s (operators/id3.py):
    per document a spec-valid two-frame CBR MP3 with an ID3v2 tag whose
    version (2.3/2.4, alternating per row) and text encoding (all four
    — ISO-8859-1, UTF-16 w/ BOM, UTF-16BE, UTF-8 — cycling per row) are
    doc_id-derived, so every version x encoding combination is
    driver-checked exactly. The audio twin of mm_exif_meta: the tag
    fields an audio-corpus gate dedups/filters on without touching the
    stream. mapInPandas, zero shuffle; frame sizes bounded by the tag,
    the tag by the payload."""
    from ..operators.id3 import documents_as_tagged_mp3, extract_id3

    media = documents_as_tagged_mp3(ptable(spark, sf_dir))
    return extract_id3(media)


@q(
    "mm_id3v1_meta",
    """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 31 = 0
                THEN substr('Song-' || CAST(doc_id % 89 AS VARCHAR)
                            || repeat('x', 30), 1, 30)
                ELSE 'Song-' || CAST(doc_id % 89 AS VARCHAR) END AS title,
           'Artist-' || CAST(doc_id % 13 AS VARCHAR) AS artist,
           'Album-' || CAST(doc_id % 7 AS VARCHAR) AS album,
           CAST(1970 + doc_id % 50 AS VARCHAR) AS year,
           CASE WHEN doc_id % 2 = 1 THEN CAST(1 + doc_id % 20 AS VARCHAR)
                ELSE NULL END AS track
    FROM documents
    """,
)
def mm_id3v1_meta(spark, sf_dir):
    """ID3v1/v1.1 TAIL-tag extraction (operators/id3.py::parse_id3v1)
    — the fallback half of the real-world ID3 precedence: these MP3s
    carry NO leading v2 tag, so the extractor must find the 128-byte
    ``TAG`` block at the END of the payload. Odd ids are v1.1 (track
    marker in the comment's last two bytes), even ids v1.0 (track
    NULL); ids divisible by 31 have a full-width 30-char title with no
    NUL terminator — the classic fixed-field edge. All closed-form
    doc_id arithmetic. mapInPandas, zero shuffle."""
    from ..operators.id3 import documents_as_v1_tagged_mp3, extract_id3

    media = documents_as_v1_tagged_mp3(ptable(spark, sf_dir))
    return extract_id3(media)


@q(
    "mm_image_dhash",
    """
    SELECT doc_id AS media_id,
           CASE WHEN (37 + 11 * doc_id) % 256 > doc_id % 256
                THEN '0808080808080808' ELSE '0000000000000000' END AS dhash,
           16 * (1 + doc_id % 3) AS width,
           8 * (1 + doc_id % 4) AS height
    FROM documents
    """,
)
def mm_image_dhash(spark, sf_dir):
    """Perceptual difference-hash over REAL decoded JPEG pixels
    (operators/multimodal.py::dhash_images — the gradient twin of
    mm_image_dedup's aHash, robust to global brightness shifts): on the
    two-tone block-aligned fixture the 9×8 nearest-sampled luma has
    exactly ONE horizontal step, always between sample columns 4 and 5
    for the three fixture widths, so every row byte is 0x08 when the
    right half is brighter and 0x00 otherwise — the decode → sample →
    gradient → bit-pack path is closed-form in doc_id and
    driver-checked exactly (a wrong sampling grid or bit order moves
    the bit and fails the hash). mapInPandas, zero shuffle."""
    from ..operators.multimodal import dhash_images, documents_as_jpeg

    media = documents_as_jpeg(ptable(spark, sf_dir))
    return dhash_images(media, native=False)
