"""Mention detection + entity-link scoring over transcripts.

This is the engine's replacement for the reference's per-ontology parse stages
(regex scans over raw OWL text, /root/reference/kg_obo/transform.py:223-346 and
:501-523): instead of mmap+regex over one file on one machine, an Arrow-batched
``mapInPandas`` stage scans the ``text`` column against the broadcast dictionary.

Invariants (BASELINE.json input_hint):
- per-turn text equality: ``text`` is never mutated; mentions carry offsets into
  the original string, verified by ``tests/test_extract.py``.
- stable (conv_id, turn_idx) ordering: mentions keep both keys; within a turn,
  emission order is (start, end, term_id) — deterministic.
- no per-row Python UDFs: the scan is a vectorized Arrow stage; the regex engine
  does the per-character work in C, and the matcher is compiled once per worker
  (see dictionary.get_matcher).

Scale notes: the output carries offsets + surface, not the full text, so the
shuffle after extraction moves a small fraction of input bytes. The stage is
embarrassingly parallel — no shuffle of its own — and its partitioning follows
the input (bucketed by conv_id).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kg_obo_spark.datagen.ontology import Ontology
from kg_obo_spark.dictionary import get_matcher
from kg_obo_spark.partitioning import ensure_scan_parallelism

MENTIONS_SCHEMA = (
    "conv_id string, turn_idx int, start int, end int, "
    "surface string, term_id string, score double"
)


# Unique sentinel embedded in every ExtractionError message. The error is
# raised inside a Spark task, so only its TEXT crosses the Py4J boundary —
# the driver-side repair ladder (plans/pipeline.py) matches this marker, not
# the class name, so a Spark change to exception framing (truncated worker
# tracebacks, reworded wrappers) can't break the ladder, and an unrelated
# failure whose traceback merely mentions "ExtractionError" can't trigger it.
EXTRACTION_BUDGET_MARKER = "<<kg-obo-spark:extraction-budget-exceeded>>"


class ExtractionError(RuntimeError):
    """A turn exceeded the per-turn candidate budget — the distributed analog
    of robot convert choking on a pathological ontology (robot_utils.py:108):
    at 100 TB a single boilerplate turn that matches tens of thousands of
    dictionary spans is a task-memory hazard, so the scan fails fast and the
    pipeline's repair ladder retries the unit batch at a reduced extraction
    level (see plans/pipeline.py)."""

    def __init__(self, conv_id: str, turn_idx: int, n_candidates: int, cap: int):
        super().__init__(
            f"{EXTRACTION_BUDGET_MARKER} turn ({conv_id},{turn_idx}) produced "
            f"{n_candidates} mention candidates > cap {cap}; retry at a higher "
            f"degradation level"
        )
        self.conv_id = conv_id
        self.turn_idx = turn_idx
        self.n_candidates = n_candidates


def extract_mentions(
    transcripts: DataFrame,
    onto: Ontology,
    all_candidates: bool = False,
    degradation_level: int = 0,
    max_candidates_per_turn: int | None = None,
) -> DataFrame:
    """transcripts -> mentions(conv_id, turn_idx, start, end, surface, term_id, score).

    Default (``all_candidates=False``): 1-best linking is resolved inside the
    scan task (candidates for a span are always co-located), so linking costs no
    shuffle. With ``all_candidates=True`` every candidate term per span is
    emitted; resolve later with :func:`link_best`.

    ``degradation_level`` selects a reduced pattern set (repair ladder — see
    ``dictionary.MAX_DEGRADATION_LEVEL``); ``max_candidates_per_turn`` raises
    :class:`ExtractionError` when one turn explodes past the budget.
    """
    best_only = not all_candidates

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        matcher = get_matcher(onto, degradation_level)
        for pdf in batches:
            texts = pdf["text"].to_numpy()
            # columnar vectorized scan (fastscan) when the batch qualifies:
            # the result frame is assembled straight from the match arrays,
            # no per-mention tuples anywhere
            cols = matcher.find_batch_columnar(
                list(texts), best_only=best_only, need_surface=True
            )
            if cols is not None:
                ridx, st, en, surfs, tids, scores = cols
                counts = np.bincount(ridx, minlength=len(pdf))
            else:
                # regex fallback (non-ASCII batch / non-token dictionary);
                # None text -> no matches (diverted rows are counted upstream
                # by split_valid_turns)
                batch_found = matcher.find_batch(list(texts), best_only=best_only)
                counts = np.fromiter(
                    (len(f) for f in batch_found),
                    dtype=np.int64,
                    count=len(batch_found),
                )
            if max_candidates_per_turn is not None and counts.size:
                worst = int(counts.argmax())
                if counts[worst] > max_candidates_per_turn:
                    raise ExtractionError(
                        str(pdf["conv_id"].iloc[worst]),
                        int(pdf["turn_idx"].iloc[worst]),
                        int(counts[worst]),
                        max_candidates_per_turn,
                    )
            if cols is not None:
                yield pd.DataFrame(
                    {
                        "conv_id": pdf["conv_id"].to_numpy()[ridx],
                        "turn_idx": pdf["turn_idx"].to_numpy()[ridx].astype("int32"),
                        "start": st.astype(np.int32),
                        "end": en.astype(np.int32),
                        "surface": np.array(surfs, dtype=object),
                        "term_id": tids,
                        "score": scores,
                    }
                )
                continue
            # flatten once; key columns come from vectorized fancy indexing
            # instead of per-mention Python appends
            ridx = np.repeat(np.arange(len(batch_found)), counts)
            flat = [mn for f in batch_found for mn in f]
            n = len(flat)
            # object-dtype string columns: Arrow consumes them directly; the
            # pandas StringDtype conversion was a measurable extra pass
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].to_numpy()[ridx],
                    "turn_idx": pdf["turn_idx"].to_numpy()[ridx].astype("int32"),
                    "start": np.fromiter((x[0] for x in flat), dtype=np.int32, count=n),
                    "end": np.fromiter((x[1] for x in flat), dtype=np.int32, count=n),
                    "surface": np.array([x[2] for x in flat], dtype=object),
                    "term_id": np.array([x[3] for x in flat], dtype=object),
                    "score": np.fromiter((x[4] for x in flat), dtype=np.float64, count=n),
                }
            )

    # only the columns the scan needs — lets Catalyst prune the parquet read.
    # r8: spread underfilled scans (single-row-group inputs otherwise run the
    # whole Arrow stage on one core — guide §2.5); no-op on parallel inputs,
    # so the fused-pipeline path (extract_turn_terms) keeps its map-only plan.
    return ensure_scan_parallelism(
        transcripts.select("conv_id", "turn_idx", "text")
    ).mapInPandas(scan, schema=MENTIONS_SCHEMA)


def extract_turn_terms(
    transcripts: DataFrame,
    onto: Ontology,
    canon: dict[str, str] | None = None,
    degradation_level: int = 0,
    max_candidates_per_turn: int | None = None,
) -> DataFrame:
    """Fused scan: (conv_id, turn_idx, terms array<string>) — per-turn sorted
    distinct CANONICAL term ids computed inside the extraction task.

    A turn's mentions are produced by the task that scans the turn, so the
    per-turn reduce is task-local by construction: fusing it into the Arrow
    stage removes the pipeline's only full-mention-volume shuffle
    (materialize.per_turn_terms). The canonical map is applied as a plain
    broadcast dict (it IS the small dimension — same object the union-find
    fast path of canonical_map produces). Turns with no mentions emit no row,
    matching groupBy semantics. This is the scan of the pipeline's per-batch
    body (materialize.co_mention_batch), which both ``run_pipeline`` and the
    streaming sink run; the offset-level mentions path (extract_mentions)
    serves the registry queries that need spans, and no pipeline commit.

    ``degradation_level`` and ``max_candidates_per_turn`` are
    :func:`extract_mentions`' repair-ladder knobs: a row whose best-only
    match count exceeds the budget raises :class:`ExtractionError`, on the
    fast path and on the regex path alike.

    Arrow-native stage (``mapInArrow``): texts come out of the RecordBatch via
    ``to_pylist`` (C) and key columns go back via Arrow ``take`` — no pandas
    Series/DataFrame materialization on either side. The scan itself is the
    vectorized matcher engine (``fastscan``, r4): columnar match arrays with
    integer term ranks, per-turn reduce as one int-key ``np.unique``, and the
    list column built from offsets via ``pa.ListArray.from_arrays`` — zero
    per-row/per-match Python. Interleaved A/B vs the regex engine on the
    1.7M-turn bench corpus at local[32]: scan stage 1.6x, whole pipeline
    1.4-1.5x (kg_pipeline 7.3 s -> 4.8 s); the regex path remains as the
    non-ASCII / non-token-dictionary fallback."""
    canon = canon or {}

    def scan(batches):
        import numpy as np
        import pyarrow as pa

        matcher = get_matcher(onto, degradation_level)
        get = canon.get
        for rb in batches:
            schema = rb.schema
            texts = rb.column(schema.get_field_index("text")).to_pylist()
            cols = matcher.find_batch_columnar(
                texts, best_only=True, need_surface=False, as_ranks=True
            )
            bf = None if cols is not None else matcher.find_batch(texts, best_only=True)
            if max_candidates_per_turn is not None and texts:
                n_found = (
                    np.bincount(cols[0], minlength=len(texts))
                    if cols is not None
                    else np.fromiter(map(len, bf), dtype=np.int64, count=len(bf))
                )
                worst = int(n_found.argmax())
                if n_found[worst] > max_candidates_per_turn:
                    raise ExtractionError(
                        str(rb.column(schema.get_field_index("conv_id"))[worst].as_py()),
                        rb.column(schema.get_field_index("turn_idx"))[worst].as_py(),
                        int(n_found[worst]),
                        max_candidates_per_turn,
                    )
            if cols is not None:
                # fully vectorized per-turn reduce: the canon map is applied
                # ONCE to the matcher's term-id table (cached rank->canon-rank
                # int table), then the sorted-distinct-per-row set is one
                # np.unique over (row, canon_rank) int keys and the list
                # column is built from offsets — zero per-row Python and no
                # object-string sorting in the batch loop
                row, _st, _en, _surf, ranks, _sc = cols
                if row.size == 0:
                    continue
                cr_table, cu = matcher.canon_rank_table(canon)
                key = row.astype(np.int64) * len(cu) + cr_table[ranks]
                ukey = np.unique(key)
                rows2 = ukey // len(cu)
                cr2 = ukey % len(cu)
                urows, counts = np.unique(rows2, return_counts=True)
                offsets = np.zeros(urows.shape[0] + 1, dtype=np.int32)
                np.cumsum(counts, out=offsets[1:])
                terms_arr = pa.ListArray.from_arrays(
                    pa.array(offsets), pa.array(cu[cr2], type=pa.string())
                )
                idx = pa.array(urows, type=pa.int32())
                yield pa.record_batch(
                    [
                        rb.column(schema.get_field_index("conv_id")).take(idx),
                        rb.column(schema.get_field_index("turn_idx")).take(idx),
                        terms_arr,
                    ],
                    names=["conv_id", "turn_idx", "terms"],
                )
                continue
            keep_idx: list[int] = []
            terms_col: list[list[str]] = []
            for i, found in enumerate(bf):
                if not found:
                    continue
                keep_idx.append(i)
                terms_col.append(sorted({get(t[3], t[3]) for t in found}))
            if not keep_idx:
                continue
            idx = pa.array(keep_idx, type=pa.int32())
            yield pa.record_batch(
                [
                    rb.column(schema.get_field_index("conv_id")).take(idx),
                    rb.column(schema.get_field_index("turn_idx")).take(idx),
                    pa.array(terms_col, type=pa.list_(pa.string())),
                ],
                names=["conv_id", "turn_idx", "terms"],
            )

    return transcripts.select("conv_id", "turn_idx", "text").mapInArrow(
        scan, schema="conv_id string, turn_idx int, terms array<string>"
    )


def extract_turn_ranks(
    transcripts: DataFrame,
    onto: Ontology,
    canon: dict[str, str] | None = None,
    degradation_level: int = 0,
) -> DataFrame:
    """Vocab-int variant of :func:`extract_turn_terms`: (conv_id, turn_idx,
    ranks array<int>) — per-turn sorted distinct CANONICAL term ids as
    integer ranks into the matcher's sorted canonical term table
    (``canon_rank_table``'s ``cu``; rank order == lexicographic string
    order, so downstream a < b pair semantics are identical).

    This is the skinny-shuffle path for edge materialization (ROADMAP #1):
    the pair-expansion distinct then shuffles two int32s per row instead of
    two CURIE strings, and the final unmap back to strings is a pure
    ``element_at`` projection against the literal ``cu`` array — no joins.
    Use :func:`kg_obo_spark.operators.materialize.edges_from_per_turn_ranks`
    to consume it; get ``cu`` driver-side via
    ``get_matcher(onto, level).canon_rank_table(canon)[1]``."""
    canon = canon or {}

    def scan(batches):
        import numpy as np
        import pyarrow as pa

        matcher = get_matcher(onto, degradation_level)
        for rb in batches:
            schema = rb.schema
            texts = rb.column(schema.get_field_index("text")).to_pylist()
            cols = matcher.find_batch_columnar(
                texts, best_only=True, need_surface=False, as_ranks=True
            )
            cr_table, cu = matcher.canon_rank_table(canon)
            if cols is not None:
                row, _st, _en, _surf, ranks, _sc = cols
                if row.size == 0:
                    continue
                key = row.astype(np.int64) * len(cu) + cr_table[ranks]
                ukey = np.unique(key)
                rows2 = ukey // len(cu)
                cr2 = (ukey % len(cu)).astype(np.int32)
                urows, counts = np.unique(rows2, return_counts=True)
                offsets = np.zeros(urows.shape[0] + 1, dtype=np.int32)
                np.cumsum(counts, out=offsets[1:])
                ranks_arr = pa.ListArray.from_arrays(
                    pa.array(offsets), pa.array(cr2, type=pa.int32())
                )
                idx = pa.array(urows, type=pa.int32())
                yield pa.record_batch(
                    [
                        rb.column(schema.get_field_index("conv_id")).take(idx),
                        rb.column(schema.get_field_index("turn_idx")).take(idx),
                        ranks_arr,
                    ],
                    names=["conv_id", "turn_idx", "ranks"],
                )
                continue
            # regex fallback: map extracted term strings to canonical ranks
            pos = {s: i for i, s in enumerate(cu)}
            get = canon.get
            bf = matcher.find_batch(texts, best_only=True)
            keep_idx: list[int] = []
            ranks_col: list[list[int]] = []
            for i, found in enumerate(bf):
                if not found:
                    continue
                keep_idx.append(i)
                ranks_col.append(sorted({pos[get(t[3], t[3])] for t in found}))
            if not keep_idx:
                continue
            idx = pa.array(keep_idx, type=pa.int32())
            yield pa.record_batch(
                [
                    rb.column(schema.get_field_index("conv_id")).take(idx),
                    rb.column(schema.get_field_index("turn_idx")).take(idx),
                    pa.array(ranks_col, type=pa.list_(pa.int32())),
                ],
                names=["conv_id", "turn_idx", "ranks"],
            )

    return transcripts.select("conv_id", "turn_idx", "text").mapInArrow(
        scan, schema="conv_id string, turn_idx int, ranks array<int>"
    )


def split_valid_turns(transcripts: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, errors): rows with null/empty text are diverted to an error
    frame instead of crashing the scan — the A8 error-count aggregation
    (reference counts log errors per category, transform.py:160-167; here the
    error frame is counted into the lineage table's metrics)."""
    bad = F.col("text").isNull() | (F.length(F.trim(F.col("text"))) == 0)
    errors = transcripts.filter(bad).select(
        "conv_id", "turn_idx", F.lit("empty_or_null_text").alias("error")
    )
    return transcripts.filter(~bad), errors


def conversation_features(transcripts: DataFrame, mentions: DataFrame) -> DataFrame:
    """Per-conversation features via grouped-map ``applyInPandas`` — the one
    stage where a whole conversation must be seen at once (SURVEY §2.8):
    turn counts, role-switch counts, mean inter-turn gap seconds, and mention
    density. Grouped on the bucketed conv_id key, so the shuffle is the same
    co-location the input layout already has."""
    import pandas as pd

    m_per_turn = mentions.groupBy("conv_id", "turn_idx").agg(
        F.count("*").alias("n_mentions")
    )
    joined = transcripts.select("conv_id", "turn_idx", "role", "ts").join(
        m_per_turn, ["conv_id", "turn_idx"], "left"
    ).na.fill({"n_mentions": 0})

    def per_conv(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("turn_idx")
        roles = pdf["role"].to_numpy()
        switches = int((roles[1:] != roles[:-1]).sum()) if len(roles) > 1 else 0
        gaps = pdf["ts"].diff().dt.total_seconds().dropna()
        return pd.DataFrame(
            {
                "conv_id": [pdf["conv_id"].iloc[0]],
                "n_turns": [len(pdf)],
                "n_role_switches": [switches],
                "mean_gap_s": [float(gaps.mean()) if len(gaps) else 0.0],
                "total_mentions": [int(pdf["n_mentions"].sum())],
                "mention_density": [float(pdf["n_mentions"].mean())],
            }
        )

    return joined.groupBy("conv_id").applyInPandas(
        per_conv,
        schema=(
            "conv_id string, n_turns long, n_role_switches long, "
            "mean_gap_s double, total_mentions long, mention_density double"
        ),
    )


def link_best(mentions: DataFrame) -> DataFrame:
    """1-best entity linking: per (conv_id, turn_idx, start, end) keep the highest
    score, ties broken by term_id asc (deterministic).

    Expressed as a window rank so Catalyst plans a single shuffle on the span
    key; no Python in the loop.
    """
    w = Window.partitionBy("conv_id", "turn_idx", "start", "end").orderBy(
        F.col("score").desc(), F.col("term_id").asc()
    )
    return (
        mentions.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
