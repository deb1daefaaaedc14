"""Round-16 tests: unit tests for the r16 ADVICE fixes (bench
remeasure burst threshold, sinkhorn empty-token divergence), plus
brute-force re-derivations (plain
Python — pandas / numpy / hashlib, independent of the DuckDB oracle,
so a shared misunderstanding between query and oracle is still
caught) for the r16 additions."""

import hashlib
import math
from collections import Counter

import numpy as np
import pandas as pd
import pytest

from sparrow_spark import registry

registry.load_all()


def _run(spark, sf_dir, name):
    return registry.RAW_QUERIES[name](spark, sf_dir).toPandas()


@pytest.fixture(scope="module")
def docs(sf_dir):
    return pd.read_parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def embs(sf_dir):
    return pd.read_parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# r16 ADVICE fixes
# ---------------------------------------------------------------------------


def test_bench_burst_threshold_matches_compare_gate():
    """bench.py's remeasure fold and bench_compare's flag gate must
    use the SAME materiality threshold: replacing the persisted
    baseline on any-margin-faster fresh readings was the r15 ADVICE
    one-way ratchet."""
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.join(root, "scripts"))
    import bench
    import bench_compare as bc

    assert bench._BURST_X == bc.REGRESSION_X
    # small jitter stays with the full-run reading...
    assert not bench._burst_replaces(0.5, 0.45)
    assert not bench._burst_replaces(0.5, 0.34)
    # ...only a regression-scale gap proves a burst
    assert bench._burst_replaces(0.5, 0.33)
    assert not bench._burst_replaces(0.5, 0.6)


@pytest.fixture(scope="module")
def doublespace_dir(tmp_path_factory):
    """A corpus where consecutive spaces make the EMPTY token the most
    frequent 'word' — the case the r15 ADVICE flagged for
    q_sinkhorn_ot: '' in the top-16 vocab puts len 0 on the ground
    cost diagonal (DuckDB NaN vs Spark null) unless both engines
    filter it."""
    d = tmp_path_factory.mktemp("dspace")
    rows = []
    for i in range(30):
        src = "src0" if i % 2 == 0 else "src1"
        rows.append(
            {
                "doc_id": i,
                "text": f"alpha  beta   gamma  tok{i % 7}  delta",
                "lang": "en",
                "source": src,
                "n_chars": 40,
            }
        )
    pd.DataFrame(rows).to_parquet(str(d / "documents.parquet"))
    return str(d)


def test_sinkhorn_ot_ignores_empty_tokens(spark, doublespace_dir):
    import duckdb

    sdf = registry.RAW_QUERIES["q_sinkhorn_ot"](spark, doublespace_dir)
    srows = sdf.toPandas().sort_values("iter").reset_index(drop=True)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{doublespace_dir}/documents.parquet'"
    )
    drows = (
        con.execute(registry.ORACLES["q_sinkhorn_ot"])
        .df()
        .sort_values("iter")
        .reset_index(drop=True)
    )
    assert len(srows) == len(drows) == 3
    for c in ("sinkhorn_cost", "col_marginal_gap"):
        for s, o in zip(srows[c], drows[c]):
            assert not (math.isnan(s) or math.isnan(o))
            assert s == pytest.approx(o, abs=2e-6)


def test_bench_compare_flags_aux_drain_regressions(
    tmp_path, monkeypatch, capsys
):
    """r16: the aux streaming drains are inside the flag machinery —
    a drain whose total wall time regresses past REGRESSION_X (and
    the aux absolute floor) fails the compare; jitter under the floor
    passes."""
    import json as _json
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), "..", "scripts")
    )
    import bench_compare as bc

    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    old.write_text(
        _json.dumps(
            {
                "queries": {"qa": 0.1},
                "aux_queries": {
                    "s1": {"total_sec": 5.0, "busy_sec": 3.0},
                    "s2": {"total_sec": 2.0, "busy_sec": 1.0},
                },
            }
        )
    )
    doc = {
        "queries": {"qa": 0.1},
        "aux_queries": {
            "s1": {"total_sec": 5.4, "busy_sec": 3.2},  # jitter: passes
            "s2": {"total_sec": 2.2, "busy_sec": 1.1},
        },
    }
    new.write_text(_json.dumps(doc))
    monkeypatch.setattr(
        sys, "argv", ["bench_compare.py", str(old), str(new)]
    )
    assert bc.main() == 0
    assert "AUX REGRESSION" not in capsys.readouterr().out

    doc["aux_queries"]["s2"] = {"total_sec": 3.5, "busy_sec": 2.9}
    new.write_text(_json.dumps(doc))
    assert bc.main() == 1
    assert "AUX REGRESSION s2" in capsys.readouterr().out


def test_bench_compare_aux_remeasure_adjudicates(
    tmp_path, monkeypatch, capsys
):
    """r16: a flagged aux drain clears when the remeasured_aux
    side-channel's fresh reading is inside the gate, and a reproduced
    drain regression still fails — the drain twin of the headline
    adjudication."""
    import json as _json
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), "..", "scripts")
    )
    import bench_compare as bc

    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    old.write_text(
        _json.dumps(
            {
                "queries": {"qa": 0.1},
                "aux_queries": {"s1": {"total_sec": 5.0, "busy_sec": 3.0}},
            }
        )
    )
    doc = {
        "queries": {"qa": 0.1},
        "aux_queries": {"s1": {"total_sec": 9.0, "busy_sec": 7.0}},
        "remeasured_aux": {
            "s1": {
                "full_run": {"total_sec": 9.0, "busy_sec": 7.0},
                "fresh": {"total_sec": 5.3, "busy_sec": 3.1},
            }
        },
    }
    new.write_text(_json.dumps(doc))
    monkeypatch.setattr(
        sys, "argv", ["bench_compare.py", str(old), str(new)]
    )
    assert bc.main() == 0
    assert "remeasure-adjudicated aux" in capsys.readouterr().out

    doc["remeasured_aux"]["s1"]["fresh"]["total_sec"] = 8.7
    new.write_text(_json.dumps(doc))
    assert bc.main() == 1
    assert "AUX REGRESSION s1" in capsys.readouterr().out


def test_bench_compare_sentinel_needs_equal_driver_jit(
    tmp_path, monkeypatch, capsys
):
    """The calibration job runs in the driver JVM, so its time follows
    the JIT: a C1-only run against a C2 baseline reads ~12x slower
    with no load at all. That ratio must neither be reported as
    machine load nor discount a regression flag; with equal Java
    options the sentinel still does both."""
    import json as _json
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), "..", "scripts")
    )
    import bench_compare as bc

    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    # A baseline recorded before the field existed ran with C2.
    old.write_text(
        _json.dumps(
            {
                "queries": {"qa": 0.1},
                "load_sentinel": {
                    "calib_first_sec": 0.2,
                    "calib_last_sec": 0.3,
                },
            }
        )
    )
    doc = {
        "queries": {"qa": 0.3},
        "load_sentinel": {
            "calib_first_sec": 2.4,
            "calib_last_sec": 2.6,
            "driver_java_options": "-XX:TieredStopAtLevel=1",
        },
    }
    new.write_text(_json.dumps(doc))
    monkeypatch.setattr(
        sys, "argv", ["bench_compare.py", str(old), str(new)]
    )
    assert bc.main() == 1
    out = capsys.readouterr().out
    assert "not comparable" in out
    assert "loaded machine" not in out
    assert "sentinel load delta" not in out

    doc["load_sentinel"]["driver_java_options"] = ""
    new.write_text(_json.dumps(doc))
    assert bc.main() == 1
    out = capsys.readouterr().out
    assert "loaded machine" in out
    assert "within 10.00x sentinel load delta" in out

    # Same JIT, different class-data archive flags (a recording run
    # against a later run that maps the archive): still comparable.
    old_doc = _json.loads(old.read_text())
    old_doc["load_sentinel"]["driver_java_options"] = (
        "-XX:TieredStopAtLevel=1 -XX:ArchiveClassesAtExit=/c/k.1.rec.jsa "
        "-Xlog:cds=off,cds+dynamic=off,class+path=off"
    )
    old.write_text(_json.dumps(old_doc))
    doc["load_sentinel"]["driver_java_options"] = (
        "-XX:TieredStopAtLevel=1 -XX:SharedArchiveFile=/c/k.jsa "
        "-Xlog:cds=off,cds+dynamic=off,class+path=off"
    )
    new.write_text(_json.dumps(doc))
    assert bc.main() == 1
    out = capsys.readouterr().out
    assert "not comparable" not in out
    assert "loaded machine" in out

# ---------------------------------------------------------------------------
# q_dup_span_merge
# ---------------------------------------------------------------------------


def _span_hashes(text, k=8):
    w = text.lower().split(" ")
    if len(w) < k:
        return []
    return [
        (i + 1, hashlib.md5(" ".join(w[i : i + k]).encode()).hexdigest())
        for i in range(len(w) - k + 1)
    ]


def test_dup_span_merge_brute(spark, sf_dir, docs):
    K, MAXDF = 8, 16
    spans = {
        r.doc_id: _span_hashes(r.text, K) for r in docs.itertuples()
    }
    df_count = Counter()
    for d, sp in spans.items():
        for sh in {h for _, h in sp}:
            df_count[sh] += 1
    eligible = {h for h, c in df_count.items() if 2 <= c <= MAXDF}
    got = _run(spark, sf_dir, "q_dup_span_merge")
    got = got.set_index(["a_id", "b_id"]).sort_index()
    # brute pairs
    by_hash = {}
    for d, sp in spans.items():
        for i, h in sp:
            if h in eligible:
                by_hash.setdefault(h, []).append((d, i))
    pair_hits = {}
    for h, occ in by_hash.items():
        for da, ia in occ:
            for db, ib in occ:
                if da < db:
                    pair_hits.setdefault((da, db), set()).add((ia, ib))
    assert set(got.index) == set(pair_hits)
    for (a, b), hits in pair_hits.items():
        row = got.loc[(a, b)]
        assert row["n_shared_spans"] == len(hits)
        # diagonal runs
        runs = []
        by_diag = {}
        for ia, ib in hits:
            by_diag.setdefault(ia - ib, []).append(ia)
        for d, ias in by_diag.items():
            ias = sorted(ias)
            run = 1
            for x, y in zip(ias, ias[1:]):
                if y == x + 1:
                    run += 1
                else:
                    runs.append(run)
                    run = 1
            runs.append(run)
        assert row["n_runs"] == len(runs)
        assert row["longest_run_tokens"] == max(runs) + K - 1
        # a-side interval union coverage
        cover = set()
        for ia, _ in hits:
            cover.update(range(ia, ia + K))
        assert row["merged_tokens_a"] == len(cover)
        assert row["exceeds_flag"] == (max(runs) + K - 1 >= 24)


# ---------------------------------------------------------------------------
# q_minhash_index_merge
# ---------------------------------------------------------------------------


def test_minhash_index_merge_partitions_full_pairs(spark, sf_dir):
    got = _run(spark, sf_dir, "q_minhash_index_merge")
    assert len(got) == 1
    r = got.iloc[0]
    # the audit must HOLD (incremental == from-scratch), by construction
    assert bool(r["consistent"])
    assert r["incremental_pairs"] == r["base_pairs"] + r["delta_new_pairs"]
    assert r["incremental_pairs"] == r["full_pairs"]
    # cross-check full_pairs against the registry's own LSH pair op
    from sparrow_spark.operators.dedup import minhash_lsh_pairs
    from sparrow_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    assert r["full_pairs"] == minhash_lsh_pairs(docs).count()


# ---------------------------------------------------------------------------
# q_rerank_interaction_topk
# ---------------------------------------------------------------------------


def test_rerank_interaction_brute(spark, sf_dir, embs):
    got = _run(spark, sf_dir, "q_rerank_interaction_topk")
    V = {r.vec_id: np.array(r.embedding, dtype=np.float64)
         for r in embs.itertuples()}
    for qid in (1, 2, 3):
        qv = V[qid]
        rows = []
        for nid, v in V.items():
            if nid == qid:
                continue
            cos = float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
            l1 = float(np.abs(qv - v).mean())
            rows.append((nid, cos, l1))
        rows.sort(key=lambda t: (-t[1], t[0]))
        cands = rows[:20]
        reranked = sorted(
            cands, key=lambda t: (-(t[1] + 0.25 * math.exp(-t[2])), t[0])
        )[:5]
        sub = got[got["query_id"] == qid].sort_values("rank_ce")
        assert list(sub["neighbor_id"]) == [t[0] for t in reranked]
        for (nid, cos, l1), (_, r) in zip(reranked, sub.iterrows()):
            assert r["ce_score"] == pytest.approx(
                cos + 0.25 * math.exp(-l1), abs=2e-6
            )
            assert r["cos"] == pytest.approx(cos, abs=2e-6)


# ---------------------------------------------------------------------------
# q_ppr_seeded
# ---------------------------------------------------------------------------


def test_ppr_seeded_brute(spark, sf_dir):
    """Re-derive personalized PageRank with plain Python over the SAME
    candidate graph (taken from the registry's LSH pair helper, which
    q_minhash_index_merge independently cross-checks)."""
    from sparrow_spark.operators.dedup import (
        PPR_DAMP,
        PPR_ITERS,
        PPR_SEEDS,
        minhash_lsh_pairs,
    )
    from sparrow_spark.sources import load_table

    pairs = minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents")
    ).toPandas()
    adj = {}
    for a, b in zip(pairs["a_id"], pairs["b_id"]):
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    seeds = nodes[:PPR_SEEDS]
    pr = {n: (1.0 / PPR_SEEDS if n in seeds else 0.0) for n in nodes}
    for _ in range(PPR_ITERS):
        nxt = {}
        for n in nodes:
            c = sum(pr[m] / len(adj[m]) for m in adj[n])
            restart = (1 - PPR_DAMP) / PPR_SEEDS if n in seeds else 0.0
            nxt[n] = restart + PPR_DAMP * c
        pr = nxt
    got = _run(spark, sf_dir, "q_ppr_seeded").set_index("doc_id")
    assert set(got.index) == set(nodes)
    for n in nodes:
        assert got.loc[n, "ppr"] == pytest.approx(pr[n], abs=2e-6)
        assert bool(got.loc[n, "is_seed"]) == (n in seeds)
    # mass conservation: with symmetric (dangling-free) edges the
    # diffusion preserves total mass exactly; the reported values are
    # rounded to 6 decimals, so the sum carries up to n*5e-7 slack
    assert got["ppr"].sum() == pytest.approx(1.0, abs=1e-4)
    for s in seeds:
        assert got.loc[s, "ppr"] >= (1 - PPR_DAMP) / PPR_SEEDS - 1e-9


# ---------------------------------------------------------------------------
# q_lof_outliers
# ---------------------------------------------------------------------------


def test_lof_outliers_brute(spark, sf_dir, embs):
    """Textbook LOF re-derived with numpy inside each label block:
    cosine distance, k=5 row_number neighbors (ties by dst id),
    reach-dist max(d, kdist(b)) clamped at 1e-12, lrd, lof."""
    K = 5
    got = _run(spark, sf_dir, "q_lof_outliers").set_index("vec_id")
    by_label = {}
    for r in embs.itertuples():
        by_label.setdefault(r.label, []).append(
            (r.vec_id, np.array(r.embedding, dtype=np.float64))
        )

    def cosd(a, b):
        return 1.0 - float(
            a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
        )

    knn, kdist = {}, {}
    for label, pts in by_label.items():
        for vid, v in pts:
            ds = sorted(
                (cosd(v, w), wid) for wid, w in pts if wid != vid
            )[:K]
            knn[vid] = ds
            kdist[vid] = max(d for d, _ in ds)
    lrd = {}
    for vid, ds in knn.items():
        rds = [max(d, kdist[wid], 1e-12) for d, wid in ds]
        lrd[vid] = len(rds) / sum(rds)
    for vid, ds in knn.items():
        lof = sum(lrd[wid] for _, wid in ds) / len(ds) / lrd[vid]
        row = got.loc[vid]
        assert row["k_distance"] == pytest.approx(kdist[vid], abs=2e-6)
        assert row["lrd"] == pytest.approx(lrd[vid], rel=1e-4)
        assert row["lof"] == pytest.approx(lof, rel=1e-4)
        assert bool(row["is_outlier"]) == (lof >= 1.5)
    assert set(got.index) == set(knn)


# ---------------------------------------------------------------------------
# q_doremi_weights
# ---------------------------------------------------------------------------


def test_doremi_weights_brute(spark, sf_dir, docs):
    """Re-derive the multiplicative-weights rounds with Counters:
    per-source unigram distributions, KL against the alpha-mixture,
    alpha <- alpha * exp(eta * KL) renormalized, 3 rounds."""
    dist = {}
    for src, sub in docs.groupby("source"):
        c = Counter(
            w for t in sub["text"] for w in t.lower().split(" ") if w
        )
        total = sum(c.values())
        dist[src] = {w: n / total for w, n in c.items()}
    k = len(dist)
    alpha = {s: 1.0 / k for s in dist}
    expected = []
    for rnd_i in range(1, 4):
        mix = Counter()
        for s, pd_ in dist.items():
            for w, p in pd_.items():
                mix[w] += alpha[s] * p
        kl = {
            s: sum(p * math.log(p / mix[w]) for w, p in pd_.items())
            for s, pd_ in dist.items()
        }
        un = {s: alpha[s] * math.exp(1.0 * kl[s]) for s in dist}
        z = sum(un.values())
        alpha = {s: u / z for s, u in un.items()}
        for s in dist:
            expected.append((rnd_i, s, kl[s], alpha[s]))
    got = _run(spark, sf_dir, "q_doremi_weights").set_index(
        ["round", "source"]
    )
    assert len(got) == len(expected)
    for rnd_i, s, kl_v, w_v in expected:
        row = got.loc[(rnd_i, s)]
        assert row["kl_excess"] == pytest.approx(kl_v, abs=2e-6)
        assert row["weight"] == pytest.approx(w_v, abs=2e-6)
    # weights stay a distribution each round
    for rnd_i in (1, 2, 3):
        assert got.loc[rnd_i]["weight"].sum() == pytest.approx(
            1.0, abs=1e-4
        )


# ---------------------------------------------------------------------------
# q_fd_discovery
# ---------------------------------------------------------------------------


def test_fd_discovery_brute(spark, sf_dir):
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cols = [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ]
    got = _run(spark, sf_dir, "q_fd_discovery").set_index(
        ["a_col", "b_col"]
    )
    assert len(got) == len(cols) * (len(cols) - 1)
    for a in cols:
        for b in cols:
            if a == b:
                continue
            n_a = orders[a].nunique()
            n_ab = orders[[a, b]].drop_duplicates().shape[0]
            row = got.loc[(a, b)]
            assert row["n_distinct_a"] == n_a
            assert row["n_distinct_ab"] == n_ab
            assert bool(row["holds"]) == (n_a == n_ab)
            assert row["strength"] == pytest.approx(
                n_a / n_ab, abs=2e-6
            )
    # the primary key determines everything
    for b in cols:
        if b != "o_orderkey":
            assert bool(got.loc[("o_orderkey", b)]["holds"])
