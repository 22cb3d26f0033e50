import pandas as pd

from perfbench import corpus


def test_same_seed_same_bytes_other_seed_differs():
    a = corpus.frame_digest(corpus.batch(5, 3, 200))
    assert a == corpus.frame_digest(corpus.batch(5, 3, 200))
    assert a != corpus.frame_digest(corpus.batch(6, 3, 200))


def test_duplicate_shares():
    kinds = [corpus.kind(1, i)[0] for i in range(4000)]
    assert 0.03 < kinds.count("exact") / 4000 < 0.07
    assert 0.07 < kinds.count("near") / 4000 < 0.13


def test_exact_clusters_share_text_and_near_dups_do_not():
    clusters = corpus.exact_clusters(2, 2000)
    assert clusters
    for src, ids in clusters.items():
        assert {corpus.text(2, i) for i in ids} == {corpus.text(2, src)}
    near = [i for i in range(2000) if corpus.kind(2, i)[0] == "near"]
    assert any(corpus.text(2, i) != corpus.text(2, corpus.kind(2, i)[1]) for i in near)


def _reference_survivors(seed: int, n: int) -> pd.DataFrame:
    """Every doc whose exact text has not been seen before (near-dups kept)."""
    seen, rows = set(), []
    for i in range(n):
        t = corpus.text(seed, i)
        if t not in seen:
            seen.add(t)
            rows.append((i, t))
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def test_check_accepts_a_right_survivor_set():
    assert corpus.survivor_issues(3, 1000, _reference_survivors(3, 1000)) == []


def test_check_rejects_a_duplicated_id():
    s = _reference_survivors(3, 1000)
    bad = pd.concat([s, s.iloc[[5]].assign(text="other text")])
    assert "survivor ids are not unique" in corpus.survivor_issues(3, 1000, bad)


def test_check_rejects_a_kept_exact_duplicate():
    s = _reference_survivors(3, 1000)
    src, ids = next(iter(corpus.exact_clusters(3, 1000).items()))
    dup = pd.DataFrame({"doc_id": [ids[1]], "text": [corpus.text(3, ids[1])]})
    issues = corpus.survivor_issues(3, 1000, pd.concat([s, dup]))
    assert "two survivors share exact text" in issues
    assert any(i.startswith(f"exact-dup cluster of doc {src}") for i in issues)


def test_check_rejects_a_dropped_cluster():
    s = _reference_survivors(3, 1000)
    src = next(iter(corpus.exact_clusters(3, 1000)))
    issues = corpus.survivor_issues(3, 1000, s[s.doc_id != src])
    assert issues == [f"exact-dup cluster of doc {src} keeps 0 members"]


def test_ids_hash_ignores_order():
    assert corpus.ids_hash([3, 1, 2]) == corpus.ids_hash([1, 2, 3])
    assert corpus.ids_hash([1, 2]) != corpus.ids_hash([1, 2, 3])
