from applybench import inputs
from binlog_spark.wire import constants as C

G, Q, X, T, W = (C.E_GTID, C.E_QUERY, C.E_XID, C.E_TABLE_MAP,
                 C.E_WRITE_ROWS_V2)


def _stream(n_txns):
    """Synthetic frame rows: FD, then n transactions, a rotation after 4."""
    rows = [("f1", 4, C.E_FORMAT_DESCRIPTION, b"")]
    pos = 100
    for t in range(n_txns):
        if t == 4:
            rows += [("f1", pos, C.E_ROTATE, b""),
                     ("f2", 4, C.E_FORMAT_DESCRIPTION, b"")]
        for et in (G, Q, T, W, X):
            rows.append(("f1" if t < 4 else "f2", pos, et, b"%d" % t))
            pos += 10
    return rows


def test_cuts_only_before_gtid_events():
    rows = _stream(7)
    chunks = inputs.cut_at_gtid(rows, 2)
    assert [r for c in chunks for r in c] == rows
    assert [sum(1 for r in c if r[2] == G) for c in chunks] == [2, 2, 2, 1]
    for c in chunks[1:]:
        assert c[0][2] == G
    # the rotation between transactions stays with the transaction before
    assert chunks[1][-1][2] == C.E_FORMAT_DESCRIPTION


def test_one_transaction_never_spans_two_chunks():
    rows = _stream(5)
    for size in (1, 2, 3, 5, 9):
        for c in inputs.cut_at_gtid(rows, size):
            gtids = [r[3] for r in c if r[2] == G]
            for r in c:
                if r[2] in (Q, T, W, X):
                    assert r[3] in gtids


def test_world_chunks_account_for_every_change(tmp_path):
    spec = inputs.WorldSpec(n_repos=3, paths_per_repo=20, hot_repos=1,
                            base_live_share=0.5, n_txns=50,
                            txns_per_chunk=7, txns_per_file=20)
    man = inputs.build(spec, 3, str(tmp_path / "set"))
    assert len(man["chunks"]) == 8  # 7 chunks of 7 txns + 1 of 1
    assert sum(man["changes_per_chunk"]) == man["n_changes"] > 0
    assert man["base_rows"] > 0 and man["n_files"] == 3
    again = inputs.build(spec, 3, str(tmp_path / "again"))
    assert again == man  # same seed, same inputs
    other = inputs.build(spec, 4, str(tmp_path / "other"))
    assert other["changes_per_chunk"] != man["changes_per_chunk"]


def test_cache_reuses_a_finished_set(tmp_path):
    spec = inputs.WorldSpec(n_repos=2, paths_per_repo=10, hot_repos=1,
                            base_live_share=0.0, n_txns=10,
                            txns_per_chunk=5, txns_per_file=10,
                            layout="binlog")
    d1, m1 = inputs.cached(spec, 1, str(tmp_path))
    d2, m2 = inputs.cached(spec, 1, str(tmp_path))
    assert d1 == d2 and m1 == m2
    d3, _ = inputs.cached(spec, 2, str(tmp_path), keep=1)
    assert d3 != d1
    assert [p.name for p in tmp_path.iterdir()] == [d3.rsplit("/", 1)[1]]
