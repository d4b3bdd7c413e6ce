"""Multimodal columns (north star): image/audio/video as opaque binary.

Media items are rows with an opaque ``content: binary`` column plus a typed
metadata struct — the standard 100 TB layout (parquet stores the blob inline
per row-group; metadata columns stay prunable so metadata-only queries never
touch the bytes). Processing runs as Arrow-batched ``mapInPandas`` UDFs: the
batch shape, schemas, and partition-aware writes are real and tested; only
the pixel/sample DECODE is stubbed, because the media libraries (PIL,
ffmpeg, torchaudio) are not in this container. ``_try_real_decode`` gates on
importability, so dropping the libs in upgrades the stub to a real decoder
without touching the Spark plumbing.

Deterministic fake container ("SPKM"), seeded per media_id, replaces real
file formats so every stage is oracle-checkable end-to-end — the header
fields are CLOSED-FORM functions of media_id (documented on
``synthesize_media``), letting a SQL oracle recompute what the binary
round-trip (pack → parquet → Arrow → parse) must yield.

Header layout (little-endian, after the 4-byte magic):
    u8 kind  u32 width  u32 height  u32 sample_rate  u64 duration_ms
    u32 n_frames | payload bytes

Scale notes:
- synthesize/extract/features are narrow mapInPandas passes — no shuffle.
- ``frame_sample`` is a JVM-side sequence-explode over metadata only (the
  binary column is never shuffled).
- ``write_media_partitioned`` partitions by kind and caps records per file
  so blob row-groups stay within executor memory at 100 TB.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import _h32, _jaccard_tail, _set_overlap, _sized_sets

__all__ = [
    "MEDIA_KINDS",
    "media_schema",
    "synthesize_media",
    "extract_media_meta",
    "frame_sample",
    "media_features",
    "resize_image",
    "write_media_partitioned",
    "binary_block_pairs",
    "binary_cdc_pairs",
    "binary_dedup",
]

MEDIA_KINDS = ["image", "audio", "video"]
_MAGIC = b"SPKM"
_HDR = "<BIIIQI"  # kind, width, height, sample_rate, duration_ms, n_frames
_HDR_LEN = len(_MAGIC) + struct.calcsize(_HDR)

_META_FIELDS = (
    "media_id long, kind string, width int, height int, sample_rate int, "
    "duration_ms long, n_frames int, payload_len int"
)


def media_schema() -> T.StructType:
    """media_id + kind + opaque content + typed metadata struct."""
    meta = T.StructType(
        [
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("duration_ms", T.LongType()),
            T.StructField("n_frames", T.IntegerType()),
        ]
    )
    return T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("content", T.BinaryType()),
            T.StructField("meta", meta),
        ]
    )


def _closed_form(mid: int) -> tuple[str, int, int, int, int, int, int]:
    """The per-id metadata the synthesizer packs — and the oracle recomputes.

    kind        = MEDIA_KINDS[id % 3]
    width       = 64 + (id % 8) * 16      (image; else 0)
    height      = 48 + (id % 6) * 16      (image; else 0)
    sample_rate = 8000 + (id % 4) * 8000  (audio; else 0)
    duration_ms = 1000 + (id % 60) * 500  (audio)
                  2000 + (id % 30) * 1000 (video; image = 0)
    n_frames    = 10 + id % 20            (video; else 0)
    payload_len = 32 + id % 64
    """
    kind = MEDIA_KINDS[mid % 3]
    width = 64 + (mid % 8) * 16 if kind == "image" else 0
    height = 48 + (mid % 6) * 16 if kind == "image" else 0
    sample_rate = 8000 + (mid % 4) * 8000 if kind == "audio" else 0
    if kind == "audio":
        duration_ms = 1000 + (mid % 60) * 500
    elif kind == "video":
        duration_ms = 2000 + (mid % 30) * 1000
    else:
        duration_ms = 0
    n_frames = 10 + mid % 20 if kind == "video" else 0
    payload_len = 32 + mid % 64
    return kind, width, height, sample_rate, duration_ms, n_frames, payload_len


def synthesize_media(ids: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Deterministic fake media table from an id column (see _closed_form).
    Payload bytes are sha256-streamed from the id — content-addressable, so
    features/fingerprints are reproducible across runs and engines.

    The chain hashes lowercase-HEX strings (h_1 = sha256(str(id)),
    h_{k+1} = sha256(hex(h_k)); payload = unhex(h_1‖h_2‖…)[:plen]) rather
    than raw digest bytes: DuckDB's sha256 only accepts VARCHAR, and hex
    chaining is what lets the q36 oracle recompute the payload — and hence
    the feature vectors — engine-side (plans/multimodal_plans._q36_sql)."""
    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid in pdf[id_col].astype("int64"):
                mid = int(mid)
                kind, w, h, sr, dur, nf, plen = _closed_form(mid)
                hx, payload_hex = str(mid), ""
                while len(payload_hex) < 2 * plen:
                    hx = hashlib.sha256(hx.encode()).hexdigest()
                    payload_hex += hx
                payload = bytes.fromhex(payload_hex[: 2 * plen])
                content = (
                    _MAGIC
                    + struct.pack(_HDR, MEDIA_KINDS.index(kind), w, h, sr, dur, nf)
                    + payload
                )
                rows.append(
                    {
                        "media_id": mid,
                        "kind": kind,
                        "content": content,
                        "meta": {
                            "width": w,
                            "height": h,
                            "sample_rate": sr,
                            "duration_ms": dur,
                            "n_frames": nf,
                        },
                    }
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "content", "meta"]
            )

    return ids.select(F.col(id_col)).mapInPandas(gen, schema=media_schema())


def extract_media_meta(media: DataFrame, content_col: str = "content") -> DataFrame:
    """Parse the typed metadata OUT of the opaque binary (the decode-side
    twin of synthesize_media's pack). This is the real-decoder seam: for
    actual formats this is where PIL/ffprobe would read the header."""
    import pandas as pd

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf[content_col]):
                blob = bytes(blob)
                if blob[: len(_MAGIC)] != _MAGIC:
                    continue  # F8-style per-row tolerance: skip corrupt blobs
                k, w, h, sr, dur, nf = struct.unpack(
                    _HDR, blob[len(_MAGIC) : _HDR_LEN]
                )
                rows.append(
                    {
                        "media_id": int(mid),
                        "kind": MEDIA_KINDS[k],
                        "width": w,
                        "height": h,
                        "sample_rate": sr,
                        "duration_ms": dur,
                        "n_frames": nf,
                        "payload_len": len(blob) - _HDR_LEN,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "width", "height", "sample_rate",
                    "duration_ms", "n_frames", "payload_len",
                ],
            )

    return media.select("media_id", content_col).mapInPandas(
        parse, schema=_META_FIELDS
    )


def frame_sample(media: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame indices to decode per video: every_n-th frame from the METADATA
    only — pure JVM sequence-explode; the binary column never moves. The
    actual frame decode would map each (media_id, frame_idx) through the
    decoder UDF after a content join."""
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.col("meta.n_frames").alias("n_frames"),
            F.explode(
                F.sequence(
                    F.lit(0), F.col("meta.n_frames") - 1, F.lit(every_n)
                )
            ).alias("frame_idx"),
        )
    )


def _try_real_decode(kind: str):
    """Importability gate for real decoders. Returns None in this container
    (PIL/av not installed); a deployment with the libs gets real decode."""
    try:
        if kind == "image":
            from PIL import Image  # noqa: F401

            return Image
    except ImportError:
        pass
    return None


def media_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Fixed-dim feature vector per item. REAL pipeline: decode + CNN/fbank
    via the gated decoder. STUB (this container): sha256 of the payload's
    lowercase-hex encoding folded into ``dim`` floats in [0,1) —
    deterministic, content-addressed, so downstream ANN/dedup plumbing
    (array<float> column, same as the embeddings table) is exercised for
    real. Hashing the hex string (not the raw bytes) keeps the stub
    recomputable by DuckDB's VARCHAR-only sha256, making q36 value-checked
    end-to-end through the binary pack→Arrow→parse round-trip."""
    import pandas as pd

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                payload = bytes(blob)[_HDR_LEN:]
                digest = hashlib.sha256(payload.hex().encode()).digest()
                vec = [
                    int.from_bytes(digest[4 * i : 4 * i + 4], "little")
                    / 2**32
                    for i in range(dim)
                ]
                rows.append({"media_id": int(mid), "features": vec})
            yield pd.DataFrame(rows, columns=["media_id", "features"])

    return media.select("media_id", "content").mapInPandas(
        feats, schema="media_id long, features array<float>"
    )


def resize_image(media: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize over the binary column. REAL pipeline: PIL decode →
    resize → re-encode (gated on importability). STUB: rewrite the header
    dims and re-stream the payload to the new nominal size — preserving the
    exact UDF signature, batch shape, and output schema of the real path."""
    import pandas as pd

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pil = _try_real_decode("image")
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(blob)
                k, _w, _h, sr, dur, nf = struct.unpack(
                    _HDR, blob[len(_MAGIC) : _HDR_LEN]
                )
                if MEDIA_KINDS[k] != "image":
                    continue
                if pil is not None:  # pragma: no cover - lib not in container
                    raise NotImplementedError(
                        "real PIL resize path: decode blob, resize, re-encode"
                    )
                payload = blob[_HDR_LEN:]
                content = (
                    _MAGIC
                    + struct.pack(_HDR, k, width, height, sr, dur, nf)
                    + payload
                )
                rows.append(
                    {"media_id": int(mid), "width": width, "height": height,
                     "content": content}
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "content"]
            )

    return media.select("media_id", "content").mapInPandas(
        resize, schema="media_id long, width int, height int, content binary"
    )


def write_media_partitioned(
    media: DataFrame, path: str, max_records_per_file: int = 10_000
) -> None:
    """Partition-aware media layout: directory-partition by kind (metadata
    queries prune whole kinds), cap records per file so blob row-groups stay
    bounded regardless of blob size distribution."""
    (
        media.write.mode("overwrite")
        .partitionBy("kind")
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(path)
    )


def binary_dedup(
    media: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    skip_header: bool = True,
) -> DataFrame:
    """Exact dedup of opaque binary content — the first-tier pass of every
    image/audio pipeline (byte-identical assets dominate web-scraped media
    long before perceptual hashing matters). Groups rows by a digest of
    the PAYLOAD bytes (``skip_header`` drops the typed header so re-tagged
    copies of the same bytes still collapse) and reports copies + keeper.

    The digest is ``md5(lower(hex(payload)))`` — hex-string rather than
    raw-byte hashing, the same engine-portability choice as
    synthesize_media's sha chain: it lets the q110 oracle recompute the
    key from the payload chain without BLOB support. Pure codegen
    projection; only the 32-char digest and the id ride the one exchange
    (the binary itself never shuffles — the dedup of a 100 TB media lake
    moves ~48 B/row)."""
    start = _HDR_LEN + 1 if skip_header else 1
    payload = F.expr(f"substring({content_col}, {start}, 2147483647)")
    key = F.md5(F.lower(F.hex(payload)))
    return (
        media.select(F.col(id_col), key.alias("content_key"))
        .groupBy("content_key")
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def binary_block_pairs(
    media: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    block_bytes: int = 8,
    threshold: float = 0.45,
    max_bucket: int = 1000,
    skip_header: bool = True,
) -> DataFrame:
    """FUZZY binary near-dup pairs — the tier above exact ``binary_dedup``:
    chunk each payload into fixed ``block_bytes`` blocks, hash each block,
    and score asset pairs by block-set Jaccard. Catches what exact dedup
    cannot: an asset with bytes APPENDED (re-encoded tail, appended
    metadata) shares all its original blocks and scores high, while
    unrelated assets share none (block hashes collide nowhere). This is
    the ssdeep/block-hash idea expressed as the repo's standard capped
    inverted-index candidate shape (q24/q115 discipline).

    Engine parity: blocks are cut from the payload's lowercase HEX string
    (the q110 digest discipline), so the whole pipeline — chunking, block
    md5s, candidate generation, Jaccard — replays in the SQL oracle
    (q132). Fixed-offset blocks mean an INSERTION shifts every later
    block (alignment loss — the known block-hash limitation); the
    content-defined winnowing tier (q105) is the text-side answer, and a
    rolling-boundary variant would be the binary one.

    Scale: per-asset work is payload/block_bytes hashes in one codegen
    projection; candidates come from the capped join-free posting
    expansion (a block shared by > max_bucket assets is boilerplate —
    carries no signal, would cost C(bucket, 2)); only ids, 32-char
    hashes, and counts shuffle — payload bytes never do."""
    start = _HDR_LEN + 1 if skip_header else 1
    hx = F.lower(F.hex(F.expr(f"substring({content_col}, {start}, 2147483647)")))
    hb = 2 * int(block_bytes)
    base = media.select(F.col(id_col).alias("doc_id"), hx.alias("_hx"))
    n_idx = F.ceil(F.length("_hx") / F.lit(float(hb))).cast("int")
    idx = F.when(n_idx >= 1, F.sequence(F.lit(0), n_idx - 1)).otherwise(
        F.array().cast("array<int>")
    )
    blocks = base.select("doc_id", "_hx", F.explode(idx).alias("_i")).select(
        "doc_id",
        F.md5(F.expr(f"substr(_hx, _i * {hb} + 1, {hb})")).alias("shingle"),
    )
    return _hash_set_jaccard(blocks, threshold, max_bucket)


def _hash_set_jaccard(
    blocks: DataFrame, threshold: float, max_bucket: int
) -> DataFrame:
    """Shared Jaccard tail for the binary near-dup tiers: the text tiers'
    capped set-overlap Jaccard (operators/dedup ``_sized_sets``,
    ``_set_overlap``, ``_jaccard_tail``) over the (doc_id, shingle)
    block-hash rows, renamed to asset terms. Block sets are distinct per
    asset by the sizing's collect_set, the sizes ride in the bucket
    structs (no size join) and the pairs come from the join-free capped
    bucket expansion."""
    pairs = _jaccard_tail(_set_overlap(_sized_sets(blocks, max_bucket)), threshold)
    # Set sizes are int (size of the collected set); the binary tiers
    # report block counts as bigint.
    return pairs.select(
        F.col("doc_a").alias("asset_a"),
        F.col("doc_b").alias("asset_b"),
        "inter",
        F.col("na").cast("long").alias("blocks_a"),
        F.col("nb").cast("long").alias("blocks_b"),
        "jaccard",
    )


def binary_cdc_pairs(
    media: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    divisor: int = 8,
    threshold: float = 0.3,
    max_bucket: int = 1000,
    skip_header: bool = True,
) -> DataFrame:
    """Content-defined-chunking binary near-dup — the alignment-ROBUST
    tier ``binary_block_pairs`` documents as its limitation: block
    boundaries are cut where a rolling hash of the trailing 4-byte
    window hits 0 mod ``divisor`` (FastCDC/rsync boundary rule), so an
    INSERTION only disturbs the windows that overlap it — every other
    boundary, and hence every other block, re-aligns and still matches.
    Fixed-offset blocking loses every block after the insertion point;
    this tier is what actually catches a mid-stream edit
    (pytest-contrasted).

    Engine parity: boundaries, blocks, and hashes all derive from the
    payload hex string with the portable md5-slice hash, so the FULL
    pipeline — rolling boundary rule, cumulative block ids, block
    digests, capped candidate Jaccard — replays in SQL (q133).

    Scale: per-asset work is row-local — one filter over the payload's
    byte positions picks the boundaries (an interpreted higher-order
    function, but no exchange: blocks are cut on the row that holds the
    payload, so nothing joins back to it), one explode of the blocks,
    then the shared capped-inverted-index tail. Expected block size =
    ``divisor`` bytes; the hot-block cap bounds the candidate space
    exactly as in every other tier."""
    start = _HDR_LEN + 1 if skip_header else 1
    hx = F.lower(
        F.hex(F.expr(f"substring({content_col}, {start}, 2147483647)"))
    )
    nbytes = (F.length("_hx") / 2).cast("int")

    def cut(p):
        # A boundary AFTER byte p (never inside the first 3 bytes) where
        # the hash of the 4-byte window ending at p is 0 mod divisor.
        window_hex = F.substr("_hx", 2 * p - 7, F.lit(8))
        return F.pmod(_h32(window_hex), F.lit(int(divisor))) == 0

    positions = F.when(nbytes >= 4, F.sequence(F.lit(4), nbytes)).otherwise(
        F.array().cast("array<int>")
    )
    # A block ends at each boundary and at the last byte.
    ends = F.array_distinct(F.concat(F.filter(positions, cut), F.array(nbytes)))
    assets = media.select(F.col(id_col).alias("doc_id"), hx.alias("_hx")).select(
        "doc_id", "_hx", ends.alias("_e")
    )
    # Block i spans bytes (end[i-1], end[i]], with end[-1] = 0; an empty
    # payload's lone end 0 is no block.
    prev = F.element_at(F.concat(F.array(F.lit(0)), F.col("_e")), F.col("_i") + 1)
    blocks = (
        assets.select("doc_id", "_hx", "_e", F.posexplode("_e").alias("_i", "_z"))
        .filter(F.col("_z") >= 1)
        .select(
            "doc_id",
            F.md5(F.substr("_hx", 2 * prev + 1, 2 * (F.col("_z") - prev))).alias("shingle"),
        )
    )
    return _hash_set_jaccard(blocks, threshold, max_bucket)
