"""Multimodal column plumbing: image/audio/video as opaque binary + typed metadata.

The container has no image/audio libraries, so the DECODE step is a clearly
marked stub (``decode_stub``: deterministic fake features derived from the
payload hash) or raises ``NotImplementedError`` in strict mode — but everything
Spark-side is real and tested: schema, binary handling, Arrow batch shape,
``mapInPandas`` UDF signatures, partition-friendly layout.

At 100 TB the payloads dominate: keep them in their own column (Parquet stores
columns independently, so metadata-only scans never read payload bytes), write
partitioned by ``kind``, and size ``maxRecordsPerBatch`` down for wide binaries.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes int, sha256 string, "
    "width int, height int, duration_ms int"
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as an opaque payload — exercises the
    binary path with the driver-provided tables (no external data)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text/blob").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.create_map(
            F.lit("source"), F.col("source"), F.lit("lang"), F.col("lang")
        ).alias("meta"),
    )


def payload_stats(media: DataFrame) -> DataFrame:
    """Metadata pass that never decodes: byte length + sha256 digest, all
    JVM-side (SQL-expressible; DuckDB oracle mirrors it)."""
    return media.select(
        "media_id",
        "kind",
        F.length("payload").alias("n_bytes"),
        F.sha2("payload", 256).alias("sha256"),
    )


def probe_codecs() -> dict[str, bool]:
    """Runtime capability probe (VERDICT r3 next #6): which real decoders are
    importable/installed in THIS environment. Evaluated in the worker (cheap,
    cached by the import system); the sandbox container has neither, so both
    flags are False here — but an environment with Pillow/ffmpeg gets real
    decoding through the same stages with the same schemas."""
    caps = {"pil": False, "ffmpeg": False}
    try:
        import PIL.Image  # noqa: F401

        caps["pil"] = True
    except ImportError:
        pass
    import shutil

    # consumed by decode_stub's audio/video branch (_ffprobe_duration_ms)
    caps["ffmpeg"] = shutil.which("ffprobe") is not None
    return caps


def _ffprobe_duration_ms(payload: bytes) -> int | None:
    """Real audio/video duration via ffprobe over stdin (no temp file); None
    when ffprobe is missing, times out, or cannot parse the payload — callers
    then fall back to the deterministic stub features."""
    import json as _json
    import subprocess

    try:
        out = subprocess.run(
            [
                "ffprobe",
                "-v",
                "quiet",
                "-show_entries",
                "format=duration",
                "-of",
                "json",
                "-i",
                "pipe:0",
            ],
            input=payload,
            capture_output=True,
            timeout=30,
        )
        dur = _json.loads(out.stdout or b"{}").get("format", {}).get("duration")
        return int(float(dur) * 1000) if dur is not None else None
    except Exception:
        return None


def _stub_features(digest_hex: str) -> tuple[int, int, int]:
    """Deterministic fake (width, height, duration_ms) from the payload
    digest — stable across environments, SQL-oracle-able via hex parsing."""
    return (
        int(digest_hex[:4], 16) % 4096,
        int(digest_hex[4:8], 16) % 4096,
        int(digest_hex[8:14], 16) % 600000,
    )


def decode_stub(
    media: DataFrame, strict: bool = False, use_codecs: bool | None = None
) -> DataFrame:
    """Decode/feature-extract stage behind a capability probe.

    ``use_codecs=None`` (default) probes at runtime: with Pillow present,
    ``image/*`` payloads are REALLY decoded (width/height from the codec,
    duration 0); with ffprobe on PATH, ``audio/*``/``video/*`` payloads get
    their REAL container duration (piped over stdin, no temp file).
    Everything else — and every environment without codecs, like this
    container — falls back to the deterministic stub (dimensions/duration
    derived from the payload hash, so tests are stable). ``use_codecs=False``
    pins the stub path regardless of environment — the driver-oracled
    ``multimodal_decode`` query pins it so the DuckDB oracle (which mirrors
    the hash arithmetic in SQL) matches everywhere. ``strict=True`` raises
    NotImplementedError at the plug point when no real codec is available.

    The Spark plumbing (Arrow batches of binary columns in, typed feature rows
    out, map-only) is identical on every path."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        caps = (
            probe_codecs()
            if use_codecs is not False
            else {"pil": False, "ffmpeg": False}
        )
        if use_codecs is True and not caps["pil"]:
            raise NotImplementedError(
                "use_codecs=True but no image codec (Pillow) is importable"
            )
        for pdf in batches:
            if strict and not caps["pil"]:
                raise NotImplementedError(
                    "media decode requires image/audio codecs not present in "
                    "this environment; plug a real decoder in here"
                )
            n = len(pdf)
            payloads = [bytes(p) if p is not None else b"" for p in pdf["payload"]]
            digests = [hashlib.sha256(p).hexdigest() for p in payloads]
            widths, heights, durations = [0] * n, [0] * n, [0] * n
            kinds = pdf["kind"].tolist()
            for i in range(n):
                real = None
                if caps["pil"] and isinstance(kinds[i], str) and kinds[i].startswith("image/"):
                    import io

                    import PIL.Image

                    try:
                        with PIL.Image.open(io.BytesIO(payloads[i])) as img:
                            real = (img.width, img.height, 0)
                    except Exception:
                        real = None  # undecodable payload -> stub features
                elif (
                    caps["ffmpeg"]
                    and isinstance(kinds[i], str)
                    and kinds[i].startswith(("audio/", "video/"))
                ):
                    d = _ffprobe_duration_ms(payloads[i])
                    real = (0, 0, d) if d is not None else None
                widths[i], heights[i], durations[i] = (
                    real if real is not None else _stub_features(digests[i])
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) for p in payloads],
                    "sha256": digests,
                    "width": widths,
                    "height": heights,
                    "duration_ms": durations,
                }
            )

    # r8: decode is the per-row-heavy stage — spread underfilled scans
    from kg_obo_spark.partitioning import ensure_scan_parallelism

    return ensure_scan_parallelism(media).mapInPandas(
        decode, schema=FEATURE_SCHEMA
    )
