"""Transcript analytics family: SFT example assembly, conversation rollups,
tool-call bigrams, preference pairs, gram familiarity — correctness vs
hand-computed expectations, edge cases, and exchange-count plan pins."""

import pytest

from kg_obo_spark.operators.conversations import (
    conversation_stats,
    preference_pairs,
    sft_examples,
    tool_bigrams,
    transcripts_from_documents,
)


def _tr(spark):
    # Two conversations plus a truncated single-turn tail:
    #   conv 0: user/assistant/user/assistant, tools on both assistant turns
    #   conv 1: assistant turn 1 has no tool, turn 3 does; a token-count tie
    #   conv 2: lone user turn (no SFT example, no preference pair)
    rows = [
        (0, 0, "user", None, 100, "hi there"),
        (0, 1, "assistant", "tool_a", 160, "hello hello hello"),
        (0, 2, "user", None, 220, "more please"),
        (0, 3, "assistant", "tool_b", 280, "ok"),
        (1, 0, "user", None, 400, "question"),
        (1, 1, "assistant", None, 460, "short answer"),
        (1, 2, "user", None, 520, "again"),
        (1, 3, "assistant", "tool_a", 580, "same length"),
        (2, 0, "user", None, 700, "dangling"),
    ]
    return spark.createDataFrame(
        rows,
        "conv_id long, turn_idx int, role string, tool string, "
        "ts_s long, text string",
    )


def _plan(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_transcripts_from_documents_shape(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(10)], "doc_id long, text string"
    )
    out = {r.conv_id * 4 + r.turn_idx: r for r in
           transcripts_from_documents(docs).collect()}
    assert set(out) == set(range(10))
    for d, r in out.items():
        assert r.conv_id == d // 4 and r.turn_idx == d % 4
        assert r.role == ("user" if d % 2 == 0 else "assistant")
        if d % 2 == 1 and d % 5 != 0:
            assert r.tool == f"tool_{d % 3}"
        else:
            assert r.tool is None
        assert r.ts_s == 1_700_000_000 + d * 60
        assert r.text == f"text {d}"


def test_sft_examples_contexts(spark):
    out = {(r.conv_id, r.turn_idx): r for r in sft_examples(_tr(spark)).collect()}
    # one example per assistant turn with history; conv 2 contributes none
    assert set(out) == {(0, 1), (0, 3), (1, 1), (1, 3)}
    assert out[(0, 1)].context == "user: hi there"
    assert out[(0, 1)].response == "hello hello hello"
    assert out[(0, 1)].n_context_turns == 1
    assert out[(0, 3)].context == (
        "user: hi there\nassistant: hello hello hello\nuser: more please"
    )
    assert out[(0, 3)].n_context_turns == 3
    assert out[(1, 3)].response == "same length"


def test_sft_examples_single_exchange(spark):
    plan = _plan(sft_examples(_tr(spark)))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(conv_id" in plan


def test_conversation_stats_values(spark):
    out = {r.conv_id: r for r in conversation_stats(_tr(spark)).collect()}
    assert set(out) == {0, 1, 2}
    c0 = out[0]
    assert (c0.n_turns, c0.n_user, c0.n_assistant, c0.n_tool_calls) == (4, 2, 2, 2)
    # tokens: 2 + 3 + 2 + 1 = 8, assistant 3 + 1 = 4
    assert (c0.total_tokens, c0.assistant_tokens) == (8, 4)
    assert c0.duration_s == 180
    c1 = out[1]
    assert (c1.n_turns, c1.n_tool_calls) == (4, 1)
    c2 = out[2]
    assert (c2.n_turns, c2.n_user, c2.n_assistant, c2.n_tool_calls) == (1, 1, 0, 0)
    assert (c2.assistant_tokens, c2.duration_s) == (0, 0)


def test_conversation_stats_single_exchange(spark):
    plan = _plan(conversation_stats(_tr(spark)))
    assert plan.count("Exchange hashpartitioning") == 1


def test_tool_bigrams_counts(spark):
    rows = [
        (0, 1, "a"), (0, 3, "b"), (0, 5, "a"),   # a->b, b->a
        (1, 0, "a"), (1, 2, "b"),                 # a->b
        (2, 4, "c"),                              # lone call: no pair
    ]
    tr = spark.createDataFrame(
        [(c, t, "assistant", tool, 0, "x") for c, t, tool in rows],
        "conv_id long, turn_idx int, role string, tool string, "
        "ts_s long, text string",
    )
    out = {(r.tool_a, r.tool_b): r for r in tool_bigrams(tr).collect()}
    assert set(out) == {("a", "b"), ("b", "a")}
    assert (out[("a", "b")].n_pairs, out[("a", "b")].n_convs) == (2, 2)
    assert (out[("b", "a")].n_pairs, out[("b", "a")].n_convs) == (1, 1)


def test_preference_pairs_selection_and_ties(spark):
    out = {r.conv_id: r for r in preference_pairs(_tr(spark)).collect()}
    # conv 0: turn 1 has 3 tokens (chosen), turn 3 has 1 (rejected)
    assert set(out) == {0, 1}  # conv 2 has no assistant turns
    p0 = out[0]
    assert (p0.chosen_turn_idx, p0.rejected_turn_idx) == (1, 3)
    assert (p0.chosen_score, p0.rejected_score, p0.score_gap) == (3, 1, 2)
    # conv 1: both assistant turns score 2 — tie: earlier turn chosen,
    # later rejected, gap 0 (still a deterministic pair)
    p1 = out[1]
    assert (p1.chosen_turn_idx, p1.rejected_turn_idx) == (1, 3)
    assert p1.score_gap == 0


def test_preference_pairs_needs_two_candidates(spark):
    tr = spark.createDataFrame(
        [(0, 1, "assistant", None, 0, "only one")],
        "conv_id long, turn_idx int, role string, tool string, "
        "ts_s long, text string",
    )
    assert preference_pairs(tr).count() == 0


def test_preference_pairs_single_exchange(spark):
    """Both rank windows and the pairing aggregation share one
    hash(conv_id) exchange (subset rule)."""
    plan = _plan(preference_pairs(_tr(spark)))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(conv_id" in plan
    assert "Join" not in plan


def test_gram_familiarity_values_and_plan(spark):
    from kg_obo_spark.functions.text import gram_familiarity

    docs = spark.createDataFrame(
        [
            (0, "a b c"),      # grams: "a b", "b c"
            (1, "a b d"),      # grams: "a b", "b d"
            (2, "zz"),         # < 2 tokens: dropped
            (3, ""),           # empty: dropped
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gram_familiarity(docs, n=2).collect()}
    assert set(out) == {0, 1}
    # "a b" occurs twice corpus-wide, the others once
    assert out[0].n_grams == 2
    assert out[0].familiarity_e6 == (1_000_000 * (2 + 1)) // 2
    assert out[1].familiarity_e6 == (1_000_000 * (2 + 1)) // 2

    res = gram_familiarity(docs, n=2)
    plan = _plan(res)
    assert plan.count("Exchange hashpartitioning") == 2
    assert "hashpartitioning(gram" in plan
    assert "hashpartitioning(doc_id" in plan
    assert "Join" not in plan

    with pytest.raises(ValueError, match="n must be positive"):
        gram_familiarity(docs, n=0)


def test_sft_examples_budget_truncation(spark):
    from kg_obo_spark.operators.conversations import sft_examples_budget

    out = {(r.conv_id, r.turn_idx): r
           for r in sft_examples_budget(_tr(spark), 4).collect()}
    # conv 0 tokens per turn: 2, 3, 2, 1 (cumsum 2, 5, 7, 8)
    # turn 1: only prior t0 (2 <= 4) fits
    assert out[(0, 1)].context == "user: hi there"
    assert (out[(0, 1)].n_context_turns, out[(0, 1)].n_context_tokens) == (1, 2)
    # turn 3: suffix rule keeps only t2 (t1+t2 = 5 > 4)
    assert out[(0, 3)].context == "user: more please"
    assert (out[(0, 3)].n_context_turns, out[(0, 3)].n_context_tokens) == (1, 2)
    # responses unchanged
    assert out[(0, 3)].response == "ok"


def test_sft_examples_budget_empty_context_survives(spark):
    from kg_obo_spark.operators.conversations import sft_examples_budget

    out = {(r.conv_id, r.turn_idx): r
           for r in sft_examples_budget(_tr(spark), 1).collect()}
    # a 2-token prior turn cannot fit a budget of 1: context empties but
    # the example row survives (turn granularity, no mid-turn splits)
    r01 = out[(0, 1)]
    assert (r01.context, r01.n_context_turns, r01.n_context_tokens) == ("", 0, 0)


def test_sft_examples_budget_matches_unbudgeted_when_loose(spark):
    from kg_obo_spark.operators.conversations import (
        sft_examples,
        sft_examples_budget,
    )

    loose = {(r.conv_id, r.turn_idx): r.context
             for r in sft_examples_budget(_tr(spark), 10_000).collect()}
    full = {(r.conv_id, r.turn_idx): r.context
            for r in sft_examples(_tr(spark)).collect()}
    assert loose == full


def test_sft_examples_budget_single_exchange_and_args(spark):
    from kg_obo_spark.operators.conversations import sft_examples_budget

    plan = _plan(sft_examples_budget(_tr(spark), 4))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(conv_id" in plan
    with pytest.raises(ValueError, match="max_context_tokens"):
        sft_examples_budget(_tr(spark), 0)


def test_dedup_conversations_keep_first_and_normalization(spark):
    from kg_obo_spark.operators.conversations import dedup_conversations

    rows = [
        # conv 0 and conv 5: identical after lower+whitespace-squash, with
        # conv 5's turns arriving shuffled — min conv_id (0) must keep
        (0, 0, "Hello   World"), (0, 1, "second turn"),
        (5, 1, "SECOND  turn"), (5, 0, "hello world"),
        # conv 3: same turns in a DIFFERENT turn order -> different convo
        (3, 0, "second turn"), (3, 1, "hello world"),
        # conv 7: unique
        (7, 0, "something else"),
    ]
    tr = spark.createDataFrame(
        [(c, t, "user", None, 0, x) for c, t, x in rows],
        "conv_id long, turn_idx int, role string, tool string, "
        "ts_s long, text string",
    )
    out = {r.conv_id: r for r in dedup_conversations(tr).collect()}
    assert out[0].fingerprint == out[5].fingerprint
    assert (out[0].keep, out[5].keep) == (1, 0)
    assert out[3].fingerprint != out[0].fingerprint  # turn order matters
    assert (out[3].keep, out[7].keep) == (1, 1)
    # fingerprint is a pure function of the conversation: repartitioned
    # input yields identical fingerprints
    out2 = {r.conv_id: r.fingerprint
            for r in dedup_conversations(tr.repartition(5)).collect()}
    assert out2 == {c: r.fingerprint for c, r in out.items()}


def test_dedup_conversations_two_exchanges(spark):
    from kg_obo_spark.operators.conversations import dedup_conversations

    plan = _plan(dedup_conversations(_tr(spark)))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "hashpartitioning(conv_id" in plan
    assert "hashpartitioning(fingerprint" in plan
    assert "Join" not in plan


def test_conversation_splits_leak_free_and_plan(spark):
    from kg_obo_spark.operators.conversations import assign_conversation_splits

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(400)], "doc_id long, text string"
    )
    tr = transcripts_from_documents(docs)
    out = assign_conversation_splits(tr).collect()
    # every turn of a conversation lands in ONE split (leak-free by group)
    by_conv: dict[int, set] = {}
    for r in out:
        by_conv.setdefault(r.conv_id, set()).add((r.split, r.split_bucket))
    assert all(len(v) == 1 for v in by_conv.values())
    # deterministic and total: every row labeled, all three splits present
    # at 100 conversations with a 90/5/5 partition (md5-dependent but fixed)
    labels = {s for v in by_conv.values() for s, _ in v}
    assert labels <= {"train", "val", "test"}
    assert "train" in labels
    # bucket ranges respect the boundaries
    for v in by_conv.values():
        ((s, b),) = v
        if s == "train":
            assert b < 9000
        elif s == "val":
            assert 9000 <= b < 9500
        else:
            assert b >= 9500

    plan = _plan(assign_conversation_splits(tr))
    assert plan.count("Exchange") == 0  # pure projection

    with pytest.raises(ValueError, match="sum"):
        assign_conversation_splits(tr, 9000, 500, 400)
    with pytest.raises(ValueError, match="non-negative"):
        assign_conversation_splits(tr, 11000, -500, -500)


def test_sft_examples_budget_bpe_subword_units(spark):
    """The tokenizer seam changes the budget UNITS: a prior turn whose
    whitespace count fits the budget but whose subword count doesn't gets
    truncated away under the BPE model."""
    from kg_obo_spark.functions.tokenizer import GreedyWordpiece
    from kg_obo_spark.operators.conversations import sft_examples_budget

    tok = GreedyWordpiece()
    # "scan group" = 2 whitespace tokens; subwords: sc+an / gr+oup = 4
    assert sum(len(tok.encode_word(w)) for w in ["scan", "group"]) == 4
    tr = spark.createDataFrame(
        [
            (0, 0, "user", None, 0, "scan group"),
            (0, 1, "assistant", None, 60, "reply"),
        ],
        "conv_id long, turn_idx int, role string, tool string, "
        "ts_s long, text string",
    )
    ws = {r.turn_idx: r for r in sft_examples_budget(tr, 3).collect()}
    bpe = {r.turn_idx: r
           for r in sft_examples_budget(tr, 3, tokenizer=tok).collect()}
    # whitespace model: 2 <= 3, context kept
    assert ws[1].context == "user: scan group"
    assert (ws[1].n_context_turns, ws[1].n_context_tokens) == (1, 2)
    # subword model: 4 > 3, context truncated away — but counted in pieces
    assert (bpe[1].context, bpe[1].n_context_turns, bpe[1].n_context_tokens) \
        == ("", 0, 0)
    loose = {r.turn_idx: r
             for r in sft_examples_budget(tr, 4, tokenizer=tok).collect()}
    assert loose[1].context == "user: scan group"
    assert loose[1].n_context_tokens == 4  # subword units


def test_sft_examples_budget_bpe_single_exchange(spark):
    from kg_obo_spark.functions.tokenizer import GreedyWordpiece
    from kg_obo_spark.operators.conversations import sft_examples_budget

    plan = _plan(sft_examples_budget(_tr(spark), 8, tokenizer=GreedyWordpiece()))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(conv_id" in plan


def test_chunk_conversations_coverage_and_plan(spark):
    from kg_obo_spark.operators.conversations import chunk_conversations

    rows = [
        # conv 0: 5 turns (W=3, S=2 -> chunks at ordinals 0 and 2)
        (0, 0, "user", "a"), (0, 2, "assistant", "b"), (0, 4, "user", "c"),
        (0, 6, "assistant", "d"), (0, 8, "user", "e"),
        # conv 1: shorter than one window -> exactly one chunk
        (1, 0, "user", "x"), (1, 1, "assistant", "y"),
    ]
    tr = spark.createDataFrame(
        [(c, t, r, None, 0, x) for c, t, r, x in rows],
        "conv_id long, turn_idx int, role string, tool string, "
        "ts_s long, text string",
    )
    out = {(r.conv_id, r.chunk_id): r
           for r in chunk_conversations(tr, 3, 2).collect()}
    assert set(out) == {(0, 0), (0, 1), (1, 0)}
    c00 = out[(0, 0)]
    assert (c00.first_turn_idx, c00.n_turns) == (0, 3)
    assert c00.chunk_text == "user: a\nassistant: b\nuser: c"
    c01 = out[(0, 1)]  # starts at ordinal 2 (turn_idx 4), reaches the end
    assert (c01.first_turn_idx, c01.n_turns) == (4, 3)
    assert c01.chunk_text == "user: c\nassistant: d\nuser: e"
    c10 = out[(1, 0)]
    assert (c10.first_turn_idx, c10.n_turns) == (0, 2)
    assert c10.chunk_text == "user: x\nassistant: y"

    # arrival-order independence + plan shape
    from pyspark.sql import functions as F

    shuffled = chunk_conversations(tr.orderBy(F.rand(7)).repartition(5), 3, 2)
    assert sorted(map(tuple, shuffled.collect())) == sorted(
        map(tuple, chunk_conversations(tr, 3, 2).collect()))
    plan = _plan(chunk_conversations(tr, 3, 2))
    assert plan.count("Exchange hashpartitioning") == 1

    with pytest.raises(ValueError, match="window_turns"):
        chunk_conversations(tr, 0)
    with pytest.raises(ValueError, match="stride"):
        chunk_conversations(tr, 3, 4)


def test_chunk_conversations_budget_greedy_fill(spark):
    from kg_obo_spark.operators.conversations import chunk_conversations_budget

    rows = [
        # conv 0 turn tokens: 3, 4, 2, 5 with budget 7:
        # chunk 0 = [t0 (3), t2-skip? no: order is turn order]
        # greedy: t0(3) -> t1(3+4=7 ok) -> t2(7+2>7: new) -> t3(2+5=7 ok)
        (0, 0, "user", "a b c"),
        (0, 1, "assistant", "d e f g"),
        (0, 2, "user", "h i"),
        (0, 3, "assistant", "j k l m n"),
        # conv 1: one turn LONGER than the budget -> its own chunk
        (1, 0, "user", " ".join(f"w{i}" for i in range(9))),
        (1, 1, "assistant", "x y"),
    ]
    tr = spark.createDataFrame(
        [(c, t, r, None, 0, x) for c, t, r, x in rows],
        "conv_id long, turn_idx int, role string, tool string, "
        "ts_s long, text string",
    )
    out = {(r.conv_id, r.chunk_id): r
           for r in chunk_conversations_budget(tr, 7).collect()}
    assert set(out) == {(0, 0), (0, 1), (1, 0), (1, 1)}
    c00 = out[(0, 0)]
    assert (c00.first_turn_idx, c00.n_turns, c00.n_tokens) == (0, 2, 7)
    assert c00.chunk_text == "user: a b c\nassistant: d e f g"
    c01 = out[(0, 1)]
    assert (c01.first_turn_idx, c01.n_turns, c01.n_tokens) == (2, 2, 7)
    # oversized turn alone in chunk 0; next turn starts chunk 1
    assert (out[(1, 0)].n_turns, out[(1, 0)].n_tokens) == (1, 9)
    assert (out[(1, 1)].n_turns, out[(1, 1)].n_tokens) == (1, 2)

    # every chunk except oversized singletons respects the budget
    for r in out.values():
        assert r.n_tokens <= 7 or r.n_turns == 1

    # ONE exchange: the re-aggregation rides hash(conv_id) (subset rule)
    plan = _plan(chunk_conversations_budget(tr, 7))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(conv_id" in plan

    with pytest.raises(ValueError, match="max_tokens"):
        chunk_conversations_budget(tr, 0)


def test_chunk_conversations_budget_bpe_subword_units(spark):
    """The tokenizer seam switches the chunk budget to subword units: chunk
    token totals equal the wordpiece piece counts (not whitespace counts),
    the greedy fill splits where the SUBWORD budget overflows, and the plan
    keeps the single hash(conv_id) exchange."""
    from kg_obo_spark.functions.text import py_tokens
    from kg_obo_spark.functions.tokenizer import GreedyWordpiece
    from kg_obo_spark.operators.conversations import chunk_conversations_budget

    tok = GreedyWordpiece()
    tr = _tr(spark)
    rows = {(r.conv_id, r.turn_idx): r.text for r in tr.collect()}
    nt = {
        k: sum(len(tok.encode_word(w)) for w in py_tokens(t))
        for k, t in rows.items()
    }
    budget = max(nt.values()) + 1  # every turn fits; splits are real

    out = chunk_conversations_budget(tr, budget, tokenizer=tok).collect()
    # per-chunk totals are SUBWORD counts and respect the budget
    for r in out:
        assert r.n_tokens <= budget or r.n_turns == 1
    got_totals = {}
    for r in out:
        got_totals[r.conv_id] = got_totals.get(r.conv_id, 0) + r.n_tokens
    want_totals = {}
    for (c, _t), n in nt.items():
        want_totals[c] = want_totals.get(c, 0) + n
    assert got_totals == want_totals

    # replay the greedy fill in python over subword counts: chunk count
    def greedy(counts):
        chunks, cur = 1, 0
        for n in counts:
            if cur > 0 and cur + n > budget:
                chunks, cur = chunks + 1, n
            else:
                cur += n
        return chunks
    for c in {k[0] for k in rows}:
        counts = [nt[(c, t)] for t in sorted(t for cc, t in nt if cc == c)]
        assert greedy(counts) == sum(1 for r in out if r.conv_id == c), c

    plan = _plan(chunk_conversations_budget(tr, budget, tokenizer=tok))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(conv_id" in plan


def test_conversation_embeddings_mean_pool(spark):
    """Pooled vector equals the numpy mean over the conversation's turn
    embeddings; incomplete tails keep their true n_turns."""
    import numpy as np

    from kg_obo_spark.operators.conversations import conversation_embeddings

    rng = np.random.RandomState(7)
    vecs = {i: rng.randn(6).astype("float32") for i in range(10)}  # conv 2 has 2
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    got = {r.conv_id: r for r in conversation_embeddings(emb).collect()}
    assert {c: r.n_turns for c, r in got.items()} == {0: 4, 1: 4, 2: 2}
    for conv in range(3):
        members = [vecs[i] for i in sorted(vecs) if i // 4 == conv]
        want = np.sum([m.astype("float64") for m in members], axis=0) / len(members)
        assert np.allclose(got[conv].cemb, want, atol=1e-12), conv


def test_conversation_near_dup_matches_bruteforce(spark):
    """Near-dup pairs equal a numpy brute force over pooled vectors; only
    complete conversations participate."""
    import numpy as np

    from kg_obo_spark.operators.conversations import conversation_near_dup

    rng = np.random.RandomState(3)
    base = rng.randn(6)
    vecs = {}
    for conv in range(4):
        for t in range(4):
            # convs 0 and 2 are near-identical (pooled cosine ~1)
            jitter = 0.01 if conv in (0, 2) else 1.0
            vecs[conv * 4 + t] = (
                base + jitter * rng.randn(6)
                if conv in (0, 2)
                else rng.randn(6)
            ).astype("float32")
    vecs[16] = rng.randn(6).astype("float32")  # conv 4: incomplete (1 turn)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    thr = 0.5
    got = {(r.a, r.b): r.sim_e6 for r in conversation_near_dup(emb, thr).collect()}

    pooled = {
        c: np.mean(
            [vecs[c * 4 + t].astype("float64") for t in range(4)], axis=0
        )
        for c in range(4)
    }
    want = {}
    for a in range(4):
        for b in range(a + 1, 4):
            cos = pooled[a] @ pooled[b] / (
                np.linalg.norm(pooled[a]) * np.linalg.norm(pooled[b])
            )
            if int(np.floor(1e6 * cos)) >= int(thr * 1e6):
                want[(a, b)] = int(np.floor(1e6 * cos))
    assert set(got) == set(want) == {(0, 2)}
    for k in got:
        assert abs(got[k] - want[k]) <= 1  # fold-order ulp tolerance at e6
    assert all(a != 4 and b != 4 for a, b in got)


def test_cluster_conversations_matches_numpy_lloyd(spark):
    """Cluster assignment equals a numpy Lloyd replay from the SAME seed
    centroids (cosine argmax, empty clusters keep their previous mean,
    means recomputed as per-dim averages) — and is partitioning-independent."""
    import numpy as np

    from kg_obo_spark.operators.conversations import (
        cluster_conversations,
        conversation_embeddings,
    )
    from kg_obo_spark.operators.similarity import deterministic_centroids

    rng = np.random.RandomState(11)
    centers = rng.randn(3, 5) * 3
    vecs = {}
    for conv in range(12):
        for t in range(4):
            vecs[conv * 4 + t] = (
                centers[conv % 3] + 0.1 * rng.randn(5)
            ).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    got = {r.conv_id: r.cluster_id
           for r in cluster_conversations(emb, n_clusters=3, iters=2).collect()}

    # numpy replay from the identical seeds over the identical pooled frame
    pooled_df = conversation_embeddings(emb).localCheckpoint()
    pooled = {r.conv_id: np.array(r.cemb) for r in pooled_df.collect()}
    seeds = {
        r.centroid_id: np.array([float(x) for x in r.centroid_vec])
        for r in deterministic_centroids(
            pooled_df, 3, id_col="conv_id", vec_col="cemb"
        ).collect()
    }
    cents = [seeds[i + 1] for i in range(3)]  # centroid_id is 1-based

    def assign(cents):
        out = {}
        for c, v in pooled.items():
            sims = [
                v @ m / (np.linalg.norm(v) * np.linalg.norm(m)) for m in cents
            ]
            out[c] = int(np.argmax(sims)) + 1  # ties -> smallest id
        return out

    for _ in range(2):
        a = assign(cents)
        new = []
        for k in range(3):
            members = [pooled[c] for c, kk in a.items() if kk == k + 1]
            new.append(
                np.mean(members, axis=0).astype("float32").astype("float64")
                if members else cents[k]
            )
        cents = new
    want = assign(cents)
    assert got == want
    assert len(set(got.values())) == 3  # three real topic groups recovered

    shuffled = cluster_conversations(
        emb.repartition(7), n_clusters=3, iters=2
    )
    assert {r.conv_id: r.cluster_id for r in shuffled.collect()} == got


def test_conversation_near_dup_clustered_recall(spark):
    """Cluster blocking is a subset of the exact pairs (never a wrong pair)
    and keeps every high-similarity pair when near-dups share a topic
    cluster; the equi-join on cluster_id is a plain hash join (no cartesian
    in the plan)."""
    import numpy as np

    from kg_obo_spark.operators.conversations import (
        conversation_near_dup,
        conversation_near_dup_clustered,
    )

    rng = np.random.RandomState(21)
    centers = rng.randn(2, 6) * 4
    vecs = {}
    for conv in range(10):
        base = centers[conv % 2]
        # convs 0 and 2 near-identical; 1 and 3 near-identical
        jit = 0.02 if conv in (0, 1, 2, 3) else 1.5
        for t in range(4):
            vecs[conv * 4 + t] = (base + jit * rng.randn(6)).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    exact = {(r.a, r.b) for r in conversation_near_dup(emb, 0.9).collect()}
    blocked_df = conversation_near_dup_clustered(
        emb, 0.9, n_clusters=2, iters=2
    )
    blocked = {(r.a, r.b) for r in blocked_df.collect()}
    assert {(0, 2), (1, 3)} <= exact
    assert blocked <= exact  # never invents a pair
    assert {(0, 2), (1, 3)} <= blocked  # same-topic near-dups survive blocking
    # the pair stage is an equi-join on cluster_id, never a cartesian
    plan = blocked_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_conversation_near_dup_lsh_recall_and_parity(spark):
    """ROADMAP #11: the hyperplane-LSH blocking over pooled conversation
    embeddings is a subset of the exact pairs, keeps the planted
    near-identical pairs (their pooled vectors share every signature bit at
    jitter 0.02), and the literal-plane path (the contract configuration)
    returns the same pair set as the production splitmix64 signatures —
    blocking is approximate, the verify filter is not."""
    import numpy as np

    from kg_obo_spark.operators.conversations import (
        conversation_near_dup,
        conversation_near_dup_lsh,
    )
    from kg_obo_spark.operators.similarity import md5_sign_planes

    rng = np.random.RandomState(21)
    centers = rng.randn(2, 6) * 4
    vecs = {}
    for conv in range(10):
        base = centers[conv % 2]
        jit = 0.02 if conv in (0, 1, 2, 3) else 1.5
        for t in range(4):
            vecs[conv * 4 + t] = (base + jit * rng.randn(6)).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    exact = {(r.a, r.b) for r in conversation_near_dup(emb, 0.9).collect()}
    lsh_prod = {
        (r.a, r.b)
        for r in conversation_near_dup_lsh(emb, 0.9, n_planes=16,
                                           prefix_bits=4).collect()
    }
    lsh_lit = {
        (r.a, r.b)
        for r in conversation_near_dup_lsh(
            emb, 0.9, n_planes=16, prefix_bits=4,
            planes=md5_sign_planes(16, 6),
        ).collect()
    }
    assert lsh_prod <= exact and lsh_lit <= exact  # never invents a pair
    # identical pooled vectors share every chunk — both paths keep them
    assert {(0, 2), (1, 3)} <= lsh_prod
    assert {(0, 2), (1, 3)} <= lsh_lit


def test_topic_balanced_mixture_composition(spark):
    """The documented composition works end-to-end: cluster_conversations
    labels feed mixture_resample for per-topic rebalancing at CONVERSATION
    granularity — the scarce topic (anchor) is kept whole, the dominant one
    thinned, and a semi-join keeps or drops whole conversations."""
    import numpy as np

    from pyspark.sql import functions as F

    from kg_obo_spark.operators.conversations import cluster_conversations
    from kg_obo_spark.operators.sampling import mixture_resample

    rng = np.random.RandomState(17)
    centers = rng.randn(2, 5) * 4
    # topic 0: 12 conversations, topic 1: 3 — heavily unbalanced
    topic = {c: (0 if c < 12 else 1) for c in range(15)}
    vecs = {
        c * 4 + t: [float(x) for x in
                    (centers[topic[c]] + 0.05 * rng.randn(5)).astype("float32")]
        for c in range(15) for t in range(4)
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<float>"
    )
    labels = cluster_conversations(emb, n_clusters=2, iters=2).withColumn(
        "topic", F.col("cluster_id").cast("string")
    ).localCheckpoint()
    by_label = {r.conv_id: r.topic for r in labels.collect()}
    sizes = {}
    for t in by_label.values():
        sizes[t] = sizes.get(t, 0) + 1
    assert sorted(sizes.values()) == [3, 12]  # clustering recovered the skew
    scarce = min(sizes, key=sizes.get)

    kept = mixture_resample(
        labels, key_col="conv_id", strata_col="topic",
        weights={t: 1 for t in sizes},
    )
    kept_convs = {r.conv_id for r in kept.collect()}
    # anchor (scarce) topic kept whole; dominant topic thinned
    assert {c for c, t in by_label.items() if t == scarce} <= kept_convs
    assert len(kept_convs) < 15

    # conversation granularity: the semi-join keeps every turn of a kept
    # conversation and no turn of a dropped one
    tr = spark.createDataFrame(
        [(c, t, "user", None, 0, "x") for c in range(15) for t in range(4)],
        "conv_id long, turn_idx int, role string, tool string, "
        "ts_s long, text string",
    )
    kept_turns = tr.join(
        kept.select("conv_id"), "conv_id", "left_semi"
    ).collect()
    assert {r.conv_id for r in kept_turns} == kept_convs
    assert len(kept_turns) == 4 * len(kept_convs)


def test_gram_novelty_values_and_plan(spark):
    from kg_obo_spark.functions.text import gram_novelty

    docs = spark.createDataFrame(
        [
            (0, "a b c d"),            # "a b c", "b c d" — both first here
            (1, "a b c x"),            # "a b c" seen (doc 0), "b c x" new
            (2, "a b"),                # < 3 tokens: vacuously novel
            (3, "a b c a b c a b c"),  # 3 distinct grams, 2 first here
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gram_novelty(docs, n=3).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert (out[0].n_distinct_grams, out[0].novel_grams) == (2, 2)
    assert out[0].novelty_e6 == 1_000_000
    assert (out[1].n_distinct_grams, out[1].novel_grams) == (2, 1)
    assert out[1].novelty_e6 == 500_000
    assert (out[2].n_distinct_grams, out[2].novel_grams) == (0, 0)
    assert out[2].novelty_e6 == 1_000_000
    # doc 3: "a b c" first in doc 0; "b c a" and "c a b" first here
    assert (out[3].n_distinct_grams, out[3].novel_grams) == (3, 2)
    assert out[3].novelty_e6 == 666_666

    plan = _plan(gram_novelty(docs, n=3))
    assert "hashpartitioning(gram" in plan
    assert "hashpartitioning(doc_id" in plan
    # one gram exchange (serves distinct AND first-occurrence window via the
    # subset rule), one per-doc agg, one universe distinct for the left join
    assert plan.count("Exchange hashpartitioning") == 3

    with pytest.raises(ValueError, match="n must be positive"):
        gram_novelty(docs, n=0)
