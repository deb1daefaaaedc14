"""Round-15 regression tests: ADVICE fixes verified independently of
the standard fixtures (which never exercise the edge cases flagged)."""

import duckdb
import pandas as pd
import pytest

from sparrow_spark import registry

registry.load_all()


@pytest.fixture(scope="module")
def nodup_dir(tmp_path_factory):
    """A documents corpus with ZERO permutation-duplicate pairs: every
    document has a unique distinct-token set, so q_blocking_quality's
    truth-pair self-join is empty — the case the r14 ADVICE flagged
    (Spark's grouped `covered` collapses to 0 rows while the oracle's
    ungrouped FILTER aggregates still emit one row per scheme)."""
    d = tmp_path_factory.mktemp("nodup")
    rows = []
    for i in range(40):
        rows.append(
            {
                "doc_id": i,
                "text": f"alpha{i} beta{i} gamma{i} delta{i}",
                "lang": "en",
                "source": "s0",
                "n_chars": 30,
            }
        )
    pd.DataFrame(rows).to_parquet(str(d / "documents.parquet"))
    return str(d)


def test_blocking_quality_empty_truth_set_matches_oracle(spark, nodup_dir):
    sdf = registry.QUERIES["q_blocking_quality"](spark, nodup_dir)
    srows = {tuple(r)[0]: tuple(r) for r in sdf.collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{nodup_dir}/documents.parquet'"
    )
    res = con.execute(registry.ORACLES["q_blocking_quality"])
    drows = {r[0]: r for r in res.fetchall()}
    assert set(srows) == {"first_last", "n_tokens", "prefix8"}, (
        "Spark must emit one row per scheme even with zero truth pairs"
    )
    assert set(drows) == set(srows)
    for scheme in srows:
        s, o = srows[scheme], drows[scheme]
        # scheme, n_blocks, candidate_pairs, truth_pairs, covered_pairs
        assert s[1:5] == o[1:5], f"{scheme}: counts diverge {s} vs {o}"
        assert s[3] == 0 and s[4] == 0
        # pairs_completeness is 0/0 — both engines must agree on the
        # representation (NULL in Spark; DuckDB double 0/0 too)
        assert (s[5] is None) == (o[5] is None), (
            f"{scheme}: completeness repr diverges {s[5]!r} vs {o[5]!r}"
        )
        assert s[6] == pytest.approx(o[6])


def _pin_synthetic_rotation_state(
    monkeypatch, tmp_path, files, raw_names, pinned
):
    """Pin window_rotate + registry to a fully SYNTHETIC rotation
    state, independent of whatever CORRECTNESS_r*.json the driver has
    (or has not) dropped into the real repo — the r15 lesson: the old
    test read live repo state and broke the moment the driver's
    untracked CORRECTNESS_r15.json landed and flipped the gate into
    its fully-graded branch.

    `files` is {round: [graded names in row order]}; every synthetic
    row is green. `raw_names` is the synthetic registration order and
    `pinned` the synthetic _WINDOW_PRIORITY. Returns the imported
    window_rotate module."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), "..", "scripts")
    )
    import json

    import window_rotate as wr

    paths = []
    for rnd, names in sorted(files.items()):
        p = tmp_path / f"CORRECTNESS_r{rnd:02d}.json"
        p.write_text(
            json.dumps(
                {
                    n: {"rows_match": True, "schema_match": True,
                        "hash_match": True}
                    for n in names
                }
            )
        )
        paths.append((rnd, str(p)))
    monkeypatch.setattr(wr, "correctness_files", lambda: paths)
    # Replace the module ATTRIBUTES (never mutate the real dicts) and
    # no-op load_all so the real registry order is untouched — nothing
    # to restore beyond what monkeypatch already does.
    monkeypatch.setattr(
        registry, "RAW_QUERIES", {n: (lambda s, d: None) for n in raw_names}
    )
    monkeypatch.setattr(registry, "_WINDOW_PRIORITY", list(pinned))
    monkeypatch.setattr(registry, "load_all", lambda: None)
    monkeypatch.setattr(
        sys, "argv", ["window_rotate.py", "--check-if-fresh"]
    )
    return wr


def test_check_if_fresh_enforces_non_addition_slots(
    monkeypatch, tmp_path, capsys
):
    """The r14 ADVICE gap: with a mid-round addition registered but
    not yet inserted, --check-if-fresh used to skip enforcement
    entirely, so an unexcused reordering of EXISTING slots passed the
    gate. It must diff the non-addition slots against the window
    recomputed without the additions. Synthetic state: qg is a
    registered-but-never-graded addition; the newest round half-grades
    the universe, so the fully-graded SKIP branch cannot swallow the
    check regardless of real repo artifacts."""
    import sys

    universe = ["qa", "qb", "qc", "qd", "qe", "qf"]
    # r1 grades everything; r2 re-grades only qa..qc, so qd..qf are
    # staler and lead the mechanical window. qg (the addition) would
    # take the never-checked head.
    pinned = ["qd", "qe", "qf", "qa", "qb", "qc"]
    wr = _pin_synthetic_rotation_state(
        monkeypatch,
        tmp_path,
        files={1: universe, 2: ["qa", "qb", "qc"]},
        raw_names=universe + ["qg"],
        pinned=pinned,
    )

    # well-formed state: pinned slots = rule output minus the addition
    assert wr.main() == 0
    out = capsys.readouterr().out
    assert "non-addition slots match" in out
    assert "qg" in out

    # an unexcused swap of two existing slots must FAIL the gate
    swapped = list(pinned)
    swapped[0], swapped[1] = swapped[1], swapped[0]
    monkeypatch.setattr(registry, "_WINDOW_PRIORITY", swapped)
    assert wr.main() == 1
    assert "MISMATCH" in capsys.readouterr().out


def test_check_if_fresh_fully_graded_still_pins_slot_order(
    monkeypatch, tmp_path, capsys
):
    """The r15 verdict's demonstrated residue of the same gap: once
    the newest CORRECTNESS file grades every pinned slot, the old
    SKIP branch bypassed enforcement entirely, so a post-grading
    reordering of pinned slots passed until the next rotation commit.
    The SKIP branch must now verify the pinned order against the
    graded artifact's own row order."""
    universe = ["qa", "qb", "qc", "qd", "qe", "qf"]
    pinned = ["qd", "qe", "qf", "qa", "qb", "qc"]
    # r2 grades ALL pinned slots, rows written in the pinned order —
    # exactly what the driver does to the window it was handed.
    wr = _pin_synthetic_rotation_state(
        monkeypatch,
        tmp_path,
        files={1: universe, 2: list(pinned)},
        raw_names=universe,
        pinned=pinned,
    )

    assert wr.main() == 0
    out = capsys.readouterr().out
    assert "SKIP" in out and "order verified" in out

    # reorder two pinned slots in the fully-graded state → exit 1
    swapped = list(pinned)
    swapped[2], swapped[4] = swapped[4], swapped[2]
    monkeypatch.setattr(registry, "_WINDOW_PRIORITY", swapped)
    assert wr.main() == 1
    assert "slot order diverges" in capsys.readouterr().out


def test_bench_compare_adjudicates_without_ratcheting_baseline(
    tmp_path, monkeypatch, capsys
):
    """The r14 ADVICE ratchet: --remeasure used to fold min(old,
    fresh) into bench_detail.json, permanently tightening the
    committed baseline. The fresh reading lives in a `remeasured`
    side-channel that bench_compare consults for flag ADJUDICATION: a
    burst artifact clears, a reproduced regression still fails, and
    bench_compare itself never mutates the artifact (the r15 fold of
    an adjudicated-faster fresh reading into `queries` happens in
    bench.py --remeasure at write time — see
    test_committed_baseline_has_no_adjudicated_burst_values)."""
    import json as _json
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), "..", "scripts")
    )
    import bench_compare as bc

    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    old.write_text(_json.dumps({"queries": {"qa": 0.1, "qb": 0.2}}))

    doc = {
        "queries": {"qa": 0.11, "qb": 0.5},
        "remeasured": {"qb": {"full_run": 0.5, "fresh": 0.21}},
    }
    new.write_text(_json.dumps(doc))
    monkeypatch.setattr(sys, "argv", ["bench_compare.py", str(old), str(new)])
    assert bc.main() == 0  # burst artifact: fresh reading clears it
    assert "remeasure-adjudicated" in capsys.readouterr().out
    # the persisted full-run value must NOT have been ratcheted
    assert _json.loads(new.read_text())["queries"]["qb"] == 0.5

    doc["remeasured"]["qb"]["fresh"] = 0.48
    new.write_text(_json.dumps(doc))
    assert bc.main() == 1  # genuine regression reproduces
    assert "REGRESSION qb" in capsys.readouterr().out


# ---------------------------------------------------------------------------
# Brute-force checks for the six r15 additions of this session — each
# re-derives the expected answer in plain Python (pandas / numpy /
# hashlib), NOT via the DuckDB oracle, so a shared misunderstanding
# between query and oracle would still be caught.
# ---------------------------------------------------------------------------
import hashlib
import math
from collections import Counter

import pandas as pd


def _run(spark, sf_dir, name):
    return registry.RAW_QUERIES[name](spark, sf_dir).toPandas()


@pytest.fixture(scope="module")
def docs(sf_dir):
    return pd.read_parquet(f"{sf_dir}/documents.parquet")


def test_nucleus_vocab_mass_brute(spark, sf_dir, docs):
    got = _run(spark, sf_dir, "q_nucleus_vocab_mass")
    for lang, sub in docs.groupby("lang"):
        counts = Counter(
            w for t in sub["text"] for w in t.lower().split(" ")
        )
        total = sum(counts.values())
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        for p in (0.5, 0.9, 0.99):
            cum, size = 0, 0
            for _, c in ranked:
                if cum >= p * total:
                    break
                cum += c
                size += 1
            row = got[(got["lang"] == lang) & (got["p"] == p)].iloc[0]
            assert row["total_tokens"] == total
            assert row["vocab_size"] == len(counts)
            assert row["nucleus_size"] == size, (lang, p)


def test_pass_at_k_brute(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    got = _run(spark, sf_dir, "q_pass_at_k")
    pr = ev.assign(s=(ev["value"] >= 60).astype(int)).groupby("user_id")[
        "s"
    ].agg(["count", "sum"])
    for k in (1, 5, 10):
        sub = pr[pr["count"] >= k]
        vals = []
        for n, c in zip(sub["count"], sub["sum"]):
            if n - c < k:
                vals.append(1.0)
            else:
                vals.append(1.0 - math.exp(sum(
                    math.log((n - c - i) / (n - i)) for i in range(k)
                )))
        row = got[got["k"] == k].iloc[0]
        assert row["n_problems"] == len(sub)
        assert row["pass_at_k"] == pytest.approx(
            sum(vals) / len(vals), abs=1e-5
        )


def _cdc_chunks(tokens):
    cuts = [
        i
        for i in range(2, len(tokens))
        if hashlib.md5(
            f"{tokens[i - 2]} {tokens[i - 1]}".encode()
        ).hexdigest()[0] == "0"
    ]
    bounds = [0] + cuts + [len(tokens)]
    return [
        " ".join(tokens[bounds[k] : bounds[k + 1]])
        for k in range(len(bounds) - 1)
    ]


def test_cdc_chunk_dedup_brute(spark, sf_dir, docs):
    got = _run(spark, sf_dir, "q_cdc_chunk_dedup").set_index("source")
    for source, sub in docs.groupby("source"):
        chunks = []
        for t in sub["text"]:
            toks = t.split(" ")
            if len(toks) >= 5:
                chunks.extend(_cdc_chunks(toks))
        cnt = Counter(chunks)
        n_chunks, n_distinct = len(chunks), len(cnt)
        total_toks = sum(len(c.split(" ")) for c in chunks)
        dup_toks = sum(
            (m - 1) * len(c.split(" ")) for c, m in cnt.items()
        )
        row = got.loc[source]
        assert row["n_chunks"] == n_chunks
        assert row["n_distinct_chunks"] == n_distinct
        assert row["dup_chunk_frac"] == pytest.approx(
            1 - n_distinct / n_chunks, abs=1e-5
        )
        assert row["dedup_savings_frac"] == pytest.approx(
            dup_toks / total_toks, abs=1e-5
        )


def test_cdc_boundaries_resync_after_edit():
    """The CDC property fixed-size chunking lacks: inserting one token
    near the front only perturbs chunks up to the next boundary —
    every chunk after it is byte-identical, so shared suffixes dedup."""
    base = [f"w{i}" for i in range(200)]
    edited = base[:1] + ["INSERTED"] + base[1:]
    a, b = _cdc_chunks(base), _cdc_chunks(edited)
    # the tails re-synchronize: all but the first few chunks shared
    shared = set(a) & set(b)
    assert len(shared) >= len(a) - 3
    assert a[-1] == b[-1]


def test_geometric_median_brute(spark, sf_dir):
    import numpy as np

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    got = _run(spark, sf_dir, "q_geometric_median").set_index("label")
    for label, sub in emb.groupby("label"):
        x = np.stack(sub["embedding"].to_numpy()).astype(float)
        m0 = x.mean(axis=0)
        m = m0.copy()
        for _ in range(3):
            d = np.maximum(np.linalg.norm(x - m, axis=1), 1e-9)
            m = (x / d[:, None]).sum(axis=0) / (1.0 / d).sum()
        d_gm = np.maximum(np.linalg.norm(x - m, axis=1), 1e-9)
        d_mean = np.maximum(np.linalg.norm(x - m0, axis=1), 1e-9)
        row = got.loc[label]
        assert row["n_vecs"] == len(sub)
        assert row["gm_norm"] == pytest.approx(
            np.linalg.norm(m), abs=1e-4
        )
        assert row["median_shift"] == pytest.approx(
            np.linalg.norm(m - m0), abs=1e-4
        )
        assert row["mean_dist_gm"] == pytest.approx(
            d_gm.mean(), abs=1e-4
        )
        assert row["mean_dist_centroid"] == pytest.approx(
            d_mean.mean(), abs=1e-4
        )
        # Weiszfeld moves toward the cloud: points are on average at
        # least as close to the median as to the mean (robustness).
        assert d_gm.mean() <= d_mean.mean() + 1e-9


def test_sinkhorn_ot_brute(spark, sf_dir, docs):
    import numpy as np

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    counts = Counter(
        w for t in docs["text"] for w in t.lower().split(" ")
    )
    vocab = [
        w
        for w, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
            :16
        ]
    ]

    def marg(src):
        c = Counter(
            w
            for t in docs[docs["source"] == src]["text"]
            for w in t.lower().split(" ")
        )
        raw = np.array([c.get(w, 0) + 1 for w in vocab], dtype=float)
        return raw / raw.sum()

    a, b = marg("src0"), marg("src1")
    C = np.array(
        [
            [lev(x, y) / max(len(x), len(y)) for y in vocab]
            for x in vocab
        ]
    )
    K = np.exp(-C / 0.25)
    u = np.ones(16)
    got = _run(spark, sf_dir, "q_sinkhorn_ot").set_index("iter")
    for it in (1, 2, 3):
        v = b / (K.T @ u)
        u = a / (K @ v)
        cost = float((u[:, None] * K * v[None, :] * C).sum())
        gap = float(np.abs(v * (K.T @ u) - b).sum())
        row = got.loc[it]
        assert row["sinkhorn_cost"] == pytest.approx(cost, abs=1e-5)
        assert row["col_marginal_gap"] == pytest.approx(gap, abs=1e-5)
    # convergence: the column-marginal gap must shrink monotonically
    gaps = got["col_marginal_gap"].to_list()
    assert gaps[0] > gaps[1] > gaps[2]


def test_greedy_maxcover_brute(spark, sf_dir, docs):
    grams = []
    per_doc = {}
    for doc_id, t in zip(docs["doc_id"], docs["text"]):
        toks = t.lower().split(" ")
        gs = [
            f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
        ]
        grams.extend(gs)
        per_doc[doc_id] = set(gs)
    w = Counter(grams)
    total = sum(w.values())
    covered: set = set()
    expect = []
    cum = 0
    for step in range(1, 6):
        best_doc, best_gain = None, -1
        for doc_id in sorted(per_doc):
            gain = sum(w[g] for g in per_doc[doc_id] - covered)
            if gain > best_gain:
                best_doc, best_gain = doc_id, gain
        covered |= per_doc[best_doc]
        cum += best_gain
        expect.append((step, best_doc, best_gain, cum, cum / total))
    got = _run(spark, sf_dir, "q_greedy_maxcover")
    assert len(got) == 5
    for (step, doc, gain, cum_w, frac), (_, row) in zip(
        expect, got.iterrows()
    ):
        assert row["step"] == step
        assert row["doc_id"] == doc
        assert row["gain_w"] == gain
        assert row["cum_w"] == cum_w
        assert row["coverage_frac"] == pytest.approx(frac, abs=1e-5)


def test_registration_order_is_process_independent():
    """RAW_QUERIES iteration order IS the rule-2 'registration order'
    contract (window_rotate tiebreaks, ledger lists). It used to be
    the accident of which module the current PROCESS imported first —
    a test session importing an operator module directly before
    load_all() shuffled it relative to a fresh driver/script process
    (the r15 full-suite flake in
    test_check_if_fresh_enforces_non_addition_slots). load_all() now
    canonicalizes by (pinned module order, registration sequence);
    the in-suite order must equal a fresh interpreter's exactly."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fresh = subprocess.run(
        [
            sys.executable,
            "-c",
            f"import sys; sys.path.insert(0, {root!r});"
            "from sparrow_spark import registry; registry.load_all();"
            "print('\\n'.join(registry.RAW_QUERIES))",
        ],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert list(registry.RAW_QUERIES) == fresh


def test_committed_baseline_has_no_adjudicated_burst_values():
    """r15 policy: when --remeasure adjudicates a full-run reading as
    burst-inflated (fresh came back faster), the faster reading is
    what the committed baseline persists — a known-burst baseline
    would let next round's real regressions hide under it (anything
    below burst x 1.5 passes the gate)."""
    import json as _json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    d = _json.load(open(os.path.join(root, "bench_baseline_r15.json")))
    for q, r in d.get("remeasured", {}).items():
        assert d["queries"][q] <= min(r["full_run"], r["fresh"]) + 1e-9, (
            f"{q}: baseline keeps a burst-inflated reading"
        )


def test_dup_span_runs_brute(spark, sf_dir, docs):
    """Gaps-and-islands run detection re-derived with plain Python:
    8-token span hashes, dup = span string appears in >= 2 docs,
    longest consecutive run of dup positions, run R certifies
    R + 7 consecutively duplicated tokens."""
    K = 8
    spans_by_doc = {}
    for doc_id, t in zip(docs["doc_id"], docs["text"]):
        w = t.lower().split(" ")
        if len(w) >= K:
            spans_by_doc[doc_id] = [
                " ".join(w[i : i + K]) for i in range(len(w) - K + 1)
            ]
    owners = {}
    for d, spans in spans_by_doc.items():
        for s in set(spans):
            owners.setdefault(s, set()).add(d)
    dup = {s for s, ds in owners.items() if len(ds) >= 2}
    got = _run(spark, sf_dir, "q_dup_span_runs").set_index("doc_id")
    for d, spans in spans_by_doc.items():
        flags = [s in dup for s in spans]
        longest = run = 0
        for f in flags:
            run = run + 1 if f else 0
            longest = max(longest, run)
        row = got.loc[d]
        assert row["n_spans"] == len(spans)
        assert row["n_dup_spans"] == sum(flags)
        assert row["longest_run"] == longest
        expect_tokens = longest + K - 1 if longest else 0
        assert row["longest_dup_tokens"] == expect_tokens
        assert bool(row["exceeds_flag"]) == (expect_tokens >= 24)


def test_rake_keywords_brute(spark, sf_dir, docs):
    """RAKE re-derived: phrases = maximal stopword-free token runs;
    word degree = sum of lengths of phrases containing the word (one
    count per occurrence); word freq = content occurrences; phrase
    score = sum over member occurrences of degree/freq."""
    from sparrow_spark.operators.text import STOP_EN

    stops = set(STOP_EN)
    phrases = []
    for t in docs["text"]:
        cur = []
        for w in t.lower().split(" "):
            if w in stops:
                if cur:
                    phrases.append(tuple(cur))
                cur = []
            else:
                cur.append(w)
        if cur:
            phrases.append(tuple(cur))
    freq, degree = Counter(), Counter()
    for p in phrases:
        for w in p:
            freq[w] += 1
            degree[w] += len(p)
    scores = {}
    counts = Counter(phrases)
    for p, c in counts.items():
        scores[" ".join(p)] = (
            c,
            sum(degree[w] / freq[w] for w in p),
        )
    got = _run(spark, sf_dir, "q_rake_keywords")
    ranked = sorted(
        (
            (round(s + 1e-9, 4), ph, n)
            for ph, (n, s) in scores.items()
        ),
        key=lambda x: (-x[0], x[1]),
    )[:20]
    assert len(got) == len(ranked)
    for (score, ph, n), (_, row) in zip(ranked, got.iterrows()):
        assert row["phrase"] == ph
        assert row["n_occurrences"] == n
        assert row["rake_score"] == pytest.approx(score, abs=2e-4)


def test_rbo_ranking_overlap_brute(spark, sf_dir):
    import numpy as np

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    X = np.stack(emb["embedding"].to_numpy()).astype(float)
    ids = emb["vec_id"].to_numpy()
    labels = emb["label"].to_numpy()
    norms = np.linalg.norm(X, axis=1)
    W = {1: 1.8232533333333334, 2: 0.8232533333333334,
         3: 0.42325333333333337, 4: 0.20992000000000005,
         5: 0.08192000000000002}

    def topk(qi, mask):
        cos = (X @ X[qi]) / (norms * norms[qi])
        cand = [
            (-cos[j], ids[j]) for j in range(len(ids))
            if mask[j] and ids[j] != ids[qi]
        ]
        cand.sort()
        return {nid: r + 1 for r, (_, nid) in enumerate(cand[:5])}

    got = _run(spark, sf_dir, "q_rbo_ranking_overlap").set_index(
        "query_id"
    )
    for qi in range(len(ids)):
        if ids[qi] >= 20:
            continue
        exact = topk(qi, np.ones(len(ids), dtype=bool))
        ivf = topk(qi, labels == labels[qi])
        common = set(exact) & set(ivf)
        sw = sum(W[max(exact[n], ivf[n])] for n in common)
        row = got.loc[ids[qi]]
        assert row["n_common"] == len(common)
        assert row["rbo"] == pytest.approx(
            round(0.2 * sw + 1e-9, 4), abs=2e-4
        )


def test_ddsketch_quantiles_brute(spark, sf_dir):
    import numpy as np

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    gamma = 1.02020202020202
    got = _run(spark, sf_dir, "q_ddsketch_quantiles")
    for rflag, sub in li[li["l_extendedprice"] > 0].groupby(
        "l_returnflag"
    ):
        x = sub["l_extendedprice"].astype(float).to_numpy()
        buckets = np.ceil(np.log(x) / np.log(gamma)).astype(int)
        bc = Counter(buckets)
        keys = sorted(bc)
        n = len(x)
        for q in (0.5, 0.95, 0.99):
            target = int(np.floor(1 + q * (n - 1)))
            cum = 0
            for b in keys:
                cum += bc[b]
                if cum >= target:
                    bi = b
                    break
            est = 2 * gamma**bi / (gamma + 1)
            exact = float(np.percentile(x, q * 100, method="linear"))
            row = got[(got["rflag"] == rflag) & (got["q"] == q)].iloc[0]
            assert row["n"] == n
            assert row["ddsketch_est"] == pytest.approx(est, rel=1e-4)
            assert row["exact_q"] == pytest.approx(exact, rel=1e-4)
            # the paper's guarantee: relative error <= alpha = 0.01
            assert row["rel_err"] <= 0.0101


def test_session_window_native_merges_exact_gap_boundary(spark, tmp_path):
    """Two events EXACTLY gap apart must land in ONE session — Spark's
    native session_window merges at the inclusive boundary (verified
    empirically), and the oracle must flag a new session only on a
    STRICTLY greater gap. Found by the first full sf0.1 differential
    sweep: the sf0.01 fixture contains no exactly-30:00 pair, so the
    driver-scale check could never see the >= / > divergence."""
    import duckdb

    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(
                [
                    "2024-01-06 22:16:14",
                    "2024-01-06 22:46:14",  # exactly 30:00 later
                    "2024-01-07 09:00:00",  # clearly a new session
                ]
            ),
            "user_id": [1, 1, 1],
            "event_type": ["view"] * 3,
            "value": [1.0, 2.0, 3.0],
            "props": ["{}"] * 3,
        }
    )
    d = tmp_path / "sess"
    d.mkdir()
    rows.to_parquet(str(d / "events.parquet"))
    got = (
        registry.RAW_QUERIES["q_session_window_native"](spark, str(d))
        .toPandas()
        .sort_values("session_start")
    )
    assert len(got) == 2, "exact-gap pair must merge into one session"
    assert got.iloc[0]["n_events"] == 2
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'"
    )
    oracle = con.execute(
        registry.ORACLES["q_session_window_native"]
    ).fetchall()
    assert len(oracle) == 2
    assert {r[3] for r in oracle} == {2, 1}
