"""Tests of the benchmark itself: each checker accepts a correct answer
and rejects a corrupted one, every workload runs end to end at a tiny
size, and the command refuses to report when the package is missing.

    python3 -m pytest storebench -q
"""

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

import checks
import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
K = 5


@pytest.fixture
def store():
    data = inputs.Clustered(np.random.default_rng(7), 300, dim=16)
    return data, checks.Rows(data.vectors)


def answer(metric, rows, q, k=K, mask=None):
    """What a correct GetSimN returns: keys and float32 scores."""
    s = checks.scores(metric, rows.matrix, q)
    close = checks.closeness(metric, s)
    idx = np.arange(len(s)) if mask is None else np.flatnonzero(mask)
    top = idx[np.argsort(-close[idx], kind="stable")[:k]]
    return [rows.matrix[i] for i in top], [float(np.float32(s[i])) for i in top], top


@pytest.mark.parametrize("metric", checks.LINEAR)
def test_top_k_accepts_the_numpy_answer(store, metric):
    data, rows = store
    q = data.probe()
    keys, scores, _ = answer(metric, rows, q)
    assert checks.top_k("t", metric, rows, q, K, keys, scores) == []


@pytest.mark.parametrize("metric", checks.LINEAR)
def test_top_k_rejects_one_row_swapped(store, metric):
    data, rows = store
    q = data.probe()
    keys, scores, top = answer(metric, rows, q)
    outsider = next(i for i in range(len(rows.matrix)) if i not in set(top))
    keys[2] = rows.matrix[outsider]
    scores[2] = float(checks.scores(metric, rows.matrix[outsider:outsider + 1], q)[0])
    assert checks.top_k("t", metric, rows, q, K, keys, scores)


def test_top_k_rejects_wrong_score_order_and_count(store):
    data, rows = store
    q = data.probe()
    keys, scores, _ = answer(checks.COSINE, rows, q)
    bad = list(scores)
    bad[0] += 1e-2
    assert checks.top_k("t", checks.COSINE, rows, q, K, keys, bad)
    assert checks.top_k("t", checks.COSINE, rows, q, K, keys[::-1], scores[::-1])
    assert checks.top_k("t", checks.COSINE, rows, q, K, keys[:-1], scores[:-1])


def test_top_k_lets_near_ties_reorder():
    rows = checks.Rows(np.array([[1, 0], [0, 1], [0, -1], [-1, 0]], dtype=np.float32))
    q = np.array([1, 0], dtype=np.float32)
    # rows 1 and 2 tie for second place under euclidean distance
    for second in (1, 2):
        keys = [rows.matrix[0], rows.matrix[second]]
        got = checks.top_k("t", checks.EUCLIDEAN, rows, q, 2, keys,
                           [0.0, float(np.sqrt(2))])
        assert got == []


def test_top_k_honours_the_predicate_mask(store):
    data, rows = store
    q = data.probe()
    mask = data.categories == 3
    keys, scores, _ = answer(checks.COSINE, rows, q, mask=mask)
    assert checks.top_k("t", checks.COSINE, rows, q, K, keys, scores, mask=mask) == []
    keys, scores, _ = answer(checks.COSINE, rows, q)
    assert checks.top_k("t", checks.COSINE, rows, q, K, keys, scores, mask=mask)


def test_ann_accepts_real_rows_and_reports_recall(store):
    data, rows = store
    q = data.probe()
    keys, scores, top = answer(checks.EUCLIDEAN, rows, q, k=K + 1)
    # drop the best row: a valid approximate answer with recall 4/5
    problems, recall = checks.ann("t", checks.EUCLIDEAN, rows, q, K, keys[1:], scores[1:])
    assert problems == [] and recall == pytest.approx(0.8)


def test_ann_rejects_a_row_that_is_not_stored(store):
    data, rows = store
    q = data.probe()
    keys, scores, _ = answer(checks.EUCLIDEAN, rows, q)
    keys[1] = keys[1] + np.float32(1e-3)
    problems, _ = checks.ann("t", checks.EUCLIDEAN, rows, q, K, keys, scores)
    assert problems


def test_get_key_rejects_another_row(store):
    data, rows = store
    meta = {"cat": "c1"}
    assert checks.get_key("t", rows.matrix[3], meta, [(rows.matrix[3], meta)]) == []
    assert checks.get_key("t", rows.matrix[3], meta, [(rows.matrix[4], meta)])
    assert checks.get_key("t", rows.matrix[3], meta, [(rows.matrix[3], {"cat": "c2"})])
    assert checks.get_key("t", rows.matrix[3], meta, [])


def test_counts_reject_off_by_one():
    assert checks.counts("t", (4, 2), (4, 2)) == []
    assert checks.counts("t", (5, 2), (4, 2))


def test_store_model_counts_and_final_state(store):
    data, _rows = store
    metas = [{"uid": f"u{i}", "grp": f"g{i % 3}"} for i in range(len(data.vectors))]
    model = checks.StoreModel(data.vectors, metas)
    new = data.fresh(2)
    entries = [(new[0], {"uid": "u900", "grp": "g0"}), (new[1], {"uid": "u901", "grp": "g1"}),
               (data.vectors[0], {"uid": "u0", "grp": "g2"}),
               (new[1], {"uid": "u901", "grp": "g2"})]  # a later duplicate wins
    assert model.set(entries) == (2, 1)
    assert model.delete([data.vectors[1], data.fresh(1)[0]]) == 1
    assert model.upsert("uid", "u2", {"uid": "u2", "grp": "g0"}) == (0, 1)
    stored = [(v, dict(m)) for v, m in model.rows.values()]
    assert checks.same_rows("t", model, stored) == []
    assert checks.same_rows("t", model, stored[1:])  # a row lost
    changed = [(v, dict(m, grp="g9")) if i == 0 else (v, m) for i, (v, m) in enumerate(stored)]
    assert checks.same_rows("t", model, changed)
    groups = model.aggregate("grp", lambda m: int(m["uid"][1:]))
    assert sum(n for n, _ in groups.values()) == len(model.rows)
    dropped = dict(groups)
    dropped.pop("g0")
    assert checks.same_groups("t", groups, dict(groups)) == []
    assert checks.same_groups("t", groups, dropped)
    off = dict(groups, g1=(groups["g1"][0] + 1, groups["g1"][1]))
    assert checks.same_groups("t", groups, off)


def test_stub_embedding_closed_form():
    # "ab": codes 97, 98 -> s1 = 97 + 196 = 293, s2 = 195
    e = checks.stub_embedding("ab", 3)
    want = [((293 * i + 195) % 2001 - 1000) / 1000 for i in (1, 2, 3)]
    assert e.dtype == np.float32 and e.tolist() == pytest.approx(want)


def test_stub_embedding_matches_the_program():
    embedder = pytest.importorskip("ahnlich_spark.ai.embedder")
    for text in inputs.texts(np.random.default_rng(3), 20) + ["", "naïve 数据"]:
        assert checks.stub_embedding(text, 384).tolist() == embedder.stub_embed(text, 384)


def test_ai_model_counts_collisions_and_replacement():
    model = checks.AiModel(384)
    texts = inputs.texts(np.random.default_rng(5), 400)
    distinct = len({checks.stub_embedding(t, 384).tobytes() for t in texts})
    assert model.ingest(texts) == distinct
    original = model.unique_originals()[0]
    fresh = "query scan " * 7
    # re-setting an original replaces its row: counted as inserted
    assert model.set([original, fresh]) == (2, 0)
    stored = [next(iter(o)) for o in model.rows.values()]
    assert model.check_originals("t", stored) == []
    assert model.check_originals("t", stored[1:])


def test_ai_model_counts_a_stub_collision_as_an_update():
    # the stub depends on the digests mod 2001 only: shifting the first
    # code point of "ab" by 2001 keeps both digests, so the texts collide
    base, twin = "ab", chr(ord("a") + 2001) + "b"
    assert checks.stub_embedding(base, 8).tobytes() == checks.stub_embedding(twin, 8).tobytes()
    model = checks.AiModel(8)
    assert model.ingest([base, twin]) == 1
    assert model.collides(base) and base not in model.unique_originals()
    model.ingest([base])
    # another original with a stored embedding overwrites that row
    assert model.set([twin]) == (0, 1)
    assert model.check_originals("t", [twin]) == []


def test_generated_inputs_follow_the_seed():
    a, b = np.random.default_rng(9), np.random.default_rng(9)
    assert inputs.texts(a, 50) == inputs.texts(b, 50)
    va = inputs.Clustered(np.random.default_rng(4), 50).vectors
    vb = inputs.Clustered(np.random.default_rng(4), 50).vectors
    assert np.array_equal(va, vb)


def test_command_lists_match_benchmark_json():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["paths"] == ["storebench"]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def bench(tmp_path, *args, root=ROOT):
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    return subprocess.run(
        [sys.executable, os.path.join(root, "storebench", "run.py"), *args],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["vector_serving", "mutate_replicate"])
def test_workload_runs_end_to_end_at_a_tiny_size(tmp_path, workload, trace):
    import run

    out = bench(tmp_path, "--workload", workload, "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--scale", "0.1")
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert not [p for p in os.listdir(tmp_path) if p.startswith(".storebench-")]


def test_no_result_without_the_package(tmp_path):
    """A checkout holding only the benchmark's files has nothing to
    measure: the command exits non-zero and prints no result."""
    lone = tmp_path / "lone"
    shutil.copytree(HERE, lone / "storebench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), lone)
    out = bench(lone, "--workload", "vector_serving", "--seed", "1", "--seconds", "1",
                root=str(lone))
    assert out.returncode != 0
    assert "correct" not in out.stdout
