"""tools/scale_check.py's subcommand parser (no Spark session): bare
subcommands and the usage lines recorded in SCALE.md resolve to the
defaults and selections the three separate scale tools used."""

from __future__ import annotations

from tools.scale_check import DUP_NAMES, EXTRA, SHIFTED_NAMES, parse_args


def test_shifted_defaults_and_selections():
    a = parse_args(["shifted"])
    assert (a.k, a.scratch, a.tables, a.runs) == (
        8, "/tmp/spark_graft_scale", None, 2,
    )
    # the 13 catalog vehicles, then every non-catalog entry that runs on
    # the shifted fixture (the dup-fixture arms are not in it)
    assert a.names == SHIFTED_NAMES and len(a.names) == 22
    assert a.names[13:] == [n for n in EXTRA if n not in DUP_NAMES]

    a = parse_args(["shifted", "64", "--tables=documents,embeddings"])
    assert (a.k, a.tables, a.names) == (
        64, ["documents", "embeddings"], SHIFTED_NAMES,
    )
    a = parse_args([
        "shifted", "100", "/tmp/spark_graft_sf10",
        "--tables=documents,embeddings", "--only=txt_bpe,sim_ann_ivf",
    ])
    assert (a.k, a.scratch, a.names) == (
        100, "/tmp/spark_graft_sf10", ["txt_bpe", "sim_ann_ivf"],
    )
    a = parse_args(["shifted", "8", "--only=txt_bpe,txt_quality_clf",
                    "--tables=documents"])
    assert (a.names, a.tables) == (["txt_bpe", "txt_quality_clf"], ["documents"])


def test_dup_defaults_and_selections():
    a = parse_args(["dup"])
    assert (a.ks, a.runs) == ([1], 2)
    assert a.names == [
        "dedup_signatures", "dedup_survivors", "dedup_semantic",
        "nd_deg_scaled", "comp_collected", "comp_distributed",
    ]
    # K=1 is always prepended as the base point, never duplicated
    a = parse_args(["dup", "30", "100", "--only=dedup_survivors,comp_collected",
                    "--runs=3"])
    assert (a.ks, a.names, a.runs) == (
        [1, 30, 100], ["dedup_survivors", "comp_collected"], 3,
    )
    assert parse_args(["dup", "1", "10"]).ks == [1, 10]
    assert all(n in EXTRA for n in DUP_NAMES if not n.startswith("dedup_"))


def test_stream_defaults_and_selections():
    a = parse_args(["stream"])
    assert (a.k, a.batches, a.scratch) == (
        64, 16, "/tmp/spark_graft_stream_scale",
    )
    a = parse_args(["stream", "2", "2", "/tmp/s"])
    assert (a.k, a.batches, a.scratch) == (2, 2, "/tmp/s")
