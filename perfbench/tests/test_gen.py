"""The seeded generator, without Spark: same seed, same bytes."""

import filecmp
import os

import numpy as np
import pandas as pd

import gen

TABLES = [("erp", "customer"), ("crm", "nation"), ("erp", "lineitem")]
SIZES = {"customer": 300, "nation": 25, "lineitem": 2000, "part": 50, "supplier": 10}


def _land(root: str, seed: int, band=None) -> gen.DmsLanding:
    landing = gen.DmsLanding(os.path.join(root, "stage"), seed, TABLES, SIZES, band=band)
    landing.write_full_load()
    for _ in range(3):
        landing.write_cdc()
    return landing


def _files(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs)


def test_same_seed_gives_byte_identical_landing_files(tmp_path):
    a, b = _land(str(tmp_path / "a"), 7), _land(str(tmp_path / "b"), 7)
    names = _files(str(tmp_path / "a"))
    assert names == _files(str(tmp_path / "b"))
    assert "stage/erp/lineitem/LOAD00000001.csv" in names
    assert "stage/erp/lineitem/20240102-000000001.csv" in names
    _, mismatch, errors = filecmp.cmpfiles(str(tmp_path / "a"), str(tmp_path / "b"), names, shallow=False)
    assert mismatch == [] and errors == []
    for ta, tb in zip(a.tables, b.tables):
        assert gen.state_hash(ta.state, gen.SCHEMAS[ta.table]) == gen.state_hash(tb.state, gen.SCHEMAS[tb.table])


def test_other_seed_gives_other_files(tmp_path):
    _land(str(tmp_path / "a"), 7)
    _land(str(tmp_path / "b"), 8)
    p = "stage/erp/customer/LOAD00000001.csv"
    assert not filecmp.cmp(str(tmp_path / "a" / p), str(tmp_path / "b" / p), shallow=False)


def test_corpus_batches_are_byte_identical(tmp_path):
    for d in ("a", "b"):
        gen.write_parquet(gen.corpus_documents(3).iloc[:200], str(tmp_path / d / "docs.parquet"))
        gen.write_parquet(gen.corpus_embeddings(3, 200), str(tmp_path / d / "emb.parquet"))
    for f in ("docs.parquet", "emb.parquet"):
        assert filecmp.cmp(str(tmp_path / "a" / f), str(tmp_path / "b" / f), shallow=False)


def test_corpus_order_follows_the_seed():
    a, b = gen.corpus_documents(3), gen.corpus_documents(4)
    assert a["doc_id"].is_unique and sorted(a["doc_id"]) == sorted(b["doc_id"])
    assert list(a["doc_id"][:50]) != list(b["doc_id"][:50])
    emb = gen.corpus_embeddings(3, 100)
    assert len(emb) == 100 and emb["vec_id"].is_monotonic_increasing


def test_every_prefix_keeps_the_near_copy_rate():
    def near_copies(seed, n):
        docs = gen.corpus_documents(seed)
        key = docs["text"].str.split().str[:6].str.join(" ")
        return int(key.iloc[:n].duplicated(keep=False).sum())

    for n in (200, 300, 400):
        counts = [near_copies(seed, n) for seed in range(1, 9)]
        assert max(counts) - min(counts) <= 4, (n, counts)
        assert abs(sum(counts) / len(counts) - n * 477 / 5000) <= 3, (n, counts)


def test_cdc_file_layout_and_latest_wins_state(tmp_path):
    landing = gen.DmsLanding(str(tmp_path / "stage"), 1, [("erp", "customer")], {"customer": 400})
    landing.write_full_load()
    t = landing.tables[0]
    before = t.state.copy()
    rows, _ = landing.write_cdc()
    ch = pd.read_csv(t.files[-1], header=None, names=["op"] + [c for c, _ in gen.SCHEMAS["customer"]])
    assert len(ch) == rows and set(ch["op"]) <= {"I", "U", "D"}
    # replay the file in order, row by row, and compare with the state
    want = {k: tuple(r) for k, r in zip(before.index, before.itertuples(index=False))}
    for r in ch.itertuples(index=False):
        if r.op == "D":
            want.pop(r.c_custkey, None)
        else:
            want[r.c_custkey] = tuple(r)[1:]
    got = {k: tuple(r) for k, r in zip(t.state.index, t.state.itertuples(index=False))}
    assert got == want


def test_band_changes_stay_in_a_drifting_band(tmp_path):
    landing = gen.DmsLanding(str(tmp_path), 5, [("erp", "lineitem")], SIZES, band=1 / 16)
    landing.write_full_load()
    for _ in range(3):
        landing.write_cdc()
    t = landing.tables[0]
    for f in t.files[1:]:
        ch = pd.read_csv(f, header=None).rename(columns={0: "op", 1: "l_orderkey"})
        old = ch[ch["op"] != "I"]["l_orderkey"]
        assert old.max() - old.min() < t.state["l_orderkey"].max() / 8


def test_state_hash_ignores_row_order():
    df = gen.make_rows("customer", np.arange(1, 50), np.random.default_rng(0), SIZES)
    shuffled = df.sample(frac=1, random_state=1)
    cols = gen.SCHEMAS["customer"]
    assert gen.state_hash(df, cols) == gen.state_hash(shuffled, cols)
    changed = df.copy()
    changed.loc[changed.index[0], "c_acctbal"] += 0.01
    assert gen.state_hash(df, cols) != gen.state_hash(changed, cols)


def test_exact_jaccard_pairs_match_set_arithmetic():
    from workloads import exact_jaccard_pairs

    docs = gen.corpus_documents(5).iloc[:60]
    texts = dict(zip(docs["doc_id"], docs["text"]))
    # two near-copies of one document, so there are pairs above 0.5
    base = docs["text"].iat[0]
    texts[10_001] = base + " spark"
    texts[10_002] = "merge " + base

    def sh(t):
        return {t[i:i + 5] for i in range(len(t) - 4)}

    want = {}
    for a in texts:
        for b in texts:
            if a < b:
                j = len(sh(texts[a]) & sh(texts[b])) / len(sh(texts[a]) | sh(texts[b]))
                if j >= 0.5:
                    want[(a, b)] = j
    got = exact_jaccard_pairs(texts, 0.5)
    assert len(want) >= 3 and got.keys() == want.keys()
    assert all(got[p] == want[p] for p in want)
