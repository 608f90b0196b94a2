"""Tests for the scale-bench tooling: the full-table sf-multiplier
generator (tools/gen_sf.py) — the whole-registry sf1 measurement rests
on this generator preserving referential structure and growing every
table linearly, so those properties are pinned here."""

from __future__ import annotations

import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

MULT = 2


@pytest.fixture(scope="module")
def gen_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("gensf") / f"x{MULT}")
    subprocess.run(
        [sys.executable, "tools/gen_sf.py", out, str(MULT)],
        check=True,
        cwd="/root/repo",
        capture_output=True,
    )
    return out


def test_gen_sf_row_counts_scale_linearly(gen_dir):
    src = "/root/testdata/sf0.1"
    for t in ("customer", "supplier", "part", "orders", "lineitem", "events"):
        n0 = pq.read_metadata(f"{src}/{t}.parquet").num_rows
        n1 = pq.read_metadata(f"{gen_dir}/{t}.parquet").num_rows
        assert n1 == MULT * n0, t
    for t in ("region", "nation"):  # fixed dims, copied
        assert (
            pq.read_metadata(f"{gen_dir}/{t}.parquet").num_rows
            == pq.read_metadata(f"{src}/{t}.parquet").num_rows
        ), t


def test_gen_sf_keys_disjoint_and_joins_preserved(gen_dir):
    """Each replica's keys are disjoint (no accidental collisions that
    would inflate join fan-out), and referential structure holds: every
    lineitem still matches exactly one order, and the per-order line
    count multiset is preserved replica by replica."""
    src = "/root/testdata/sf0.1"
    o0 = pq.read_table(f"{src}/orders.parquet", columns=["o_orderkey"])
    o1 = pq.read_table(f"{gen_dir}/orders.parquet", columns=["o_orderkey"])
    k0 = set(o0["o_orderkey"].to_pylist())
    k1 = o1["o_orderkey"].to_pylist()
    assert len(k1) == len(set(k1))  # replicas disjoint
    l0 = pq.read_table(f"{src}/lineitem.parquet", columns=["l_orderkey"])
    l1 = pq.read_table(f"{gen_dir}/lineitem.parquet", columns=["l_orderkey"])
    assert set(l1["l_orderkey"].to_pylist()) <= set(k1)  # FK closure
    # per-order line-count multiset scales by exactly MULT
    import collections

    c0 = collections.Counter(
        collections.Counter(l0["l_orderkey"].to_pylist()).values()
    )
    c1 = collections.Counter(
        collections.Counter(l1["l_orderkey"].to_pylist()).values()
    )
    assert c1 == {sz: MULT * n for sz, n in c0.items()}


def test_gen_sf_non_key_columns_untouched(gen_dir):
    """Group-by domains must not grow: the replicas share every
    non-key column value-for-value with the source."""
    src = "/root/testdata/sf0.1"
    t0 = pq.read_table(f"{src}/orders.parquet")
    t1 = pq.read_table(f"{gen_dir}/orders.parquet")
    n = t0.num_rows
    for col in ("o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"):
        assert t1[col].slice(0, n).to_pylist() == t0[col].to_pylist(), col
        assert t1[col].slice(n, n).to_pylist() == t0[col].to_pylist(), col
    # key columns shift by exactly max+1 in the second replica
    off = pc.max(t0["o_orderkey"]).as_py() + 1
    assert (
        t1["o_orderkey"].slice(n, 5).to_pylist()
        == [k + off for k in t0["o_orderkey"].slice(0, 5).to_pylist()]
    )


def test_gen_sf_events_user_fk(gen_dir):
    """events.user_id is an FK into customer.c_custkey (the
    streaming_enrich join): every replica's events must reference its
    OWN replica's customers, i.e. user_id and c_custkey shift by the
    same family offset."""
    src = "/root/testdata/sf0.1"
    c0 = pq.read_table(f"{src}/customer.parquet", columns=["c_custkey"])
    e0 = pq.read_table(f"{src}/events.parquet", columns=["user_id"])
    c1 = pq.read_table(f"{gen_dir}/customer.parquet", columns=["c_custkey"])
    e1 = pq.read_table(f"{gen_dir}/events.parquet", columns=["user_id"])
    assert set(e1["user_id"].to_pylist()) <= set(c1["c_custkey"].to_pylist())
    off = pc.max(c0["c_custkey"]).as_py() + 1
    n = e0.num_rows
    assert (
        e1["user_id"].slice(n, 5).to_pylist()
        == [u + off for u in e0["user_id"].slice(0, 5).to_pylist()]
    )


@pytest.fixture(scope="module")
def skew_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("gensf") / "skew")
    # Flag BEFORE the out_dir: pins the r10 ADVICE fix (--skew was only
    # recognized in argv[2:], so a flag-first call silently became a
    # replica run into a directory named after the flag).
    subprocess.run(
        [sys.executable, "tools/gen_sf.py", "--skew", out],
        check=True,
        cwd="/root/repo",
        capture_output=True,
    )
    return out


def test_gen_sf_rejects_flag_like_out_dir():
    r = subprocess.run(
        [sys.executable, "tools/gen_sf.py", "--bogus"],
        cwd="/root/repo",
        capture_output=True,
        text=True,
    )
    assert r.returncode != 0
    assert "unrecognized flag" in r.stderr
    # r11 review: flag-likes and junk must be rejected ANYWHERE in
    # argv, and --skew takes no multiplier (a silently-dropped one
    # wrote a same-size dir the caller believed was scaled).
    for extra in (["/tmp/x", "--Skew"], ["/tmp/x", "nope"],
                  ["--skew", "/tmp/x", "5"], ["/tmp/x", "5", "6"]):
        r = subprocess.run(
            [sys.executable, "tools/gen_sf.py", *extra],
            cwd="/root/repo",
            capture_output=True,
            text=True,
        )
        assert r.returncode != 0, extra
        assert "usage:" in r.stderr, (extra, r.stderr)


def test_gen_sf_skew_hot_key_and_zipf_tail(skew_dir):
    """The redrawn FK columns carry the promised distribution: ~30%
    point-mass on the smallest dimension key plus a Zipf tail (the
    top-10 keys own a majority of the fact rows), row counts
    unchanged."""
    from tools.gen_sf import SKEW_FKS, SKEW_HOT_SHARE

    src = "/root/testdata/sf0.1"
    for t, (fk, dim, dim_key) in SKEW_FKS.items():
        col = pq.read_table(f"{skew_dir}/{t}.parquet", columns=[fk])[fk]
        keys = sorted(
            set(pq.read_table(f"{src}/{dim}.parquet", columns=[dim_key])[
                dim_key
            ].to_pylist())
        )
        vals = col.to_pylist()
        n_src = pq.read_metadata(f"{src}/{t}.parquet").num_rows
        assert len(vals) == n_src, t
        import collections

        freq = collections.Counter(vals)
        hot = freq[keys[0]] / len(vals)
        # hot share = 0.30 point-mass + the Zipf rank-1 mass; must at
        # least clear the point-mass and stay far above uniform.
        assert hot >= SKEW_HOT_SHARE - 0.02, (t, hot)
        assert hot > 5 / len(keys), (t, hot)
        top10 = sum(c for _, c in freq.most_common(10)) / len(vals)
        assert top10 > 0.5, (t, top10)


def test_gen_sf_skew_fk_closure_and_other_columns_untouched(skew_dir):
    """Referential integrity holds after the redraw (every FK value is
    an existing dimension key) and nothing else moved: non-FK columns
    of redrawn tables are value-identical to the source, and tables
    outside SKEW_FKS are copied verbatim."""
    from tools.gen_sf import SKEW_FKS

    src = "/root/testdata/sf0.1"
    for t, (fk, dim, dim_key) in SKEW_FKS.items():
        t1 = pq.read_table(f"{skew_dir}/{t}.parquet")
        t0 = pq.read_table(f"{src}/{t}.parquet")
        dimkeys = set(
            pq.read_table(f"{src}/{dim}.parquet", columns=[dim_key])[
                dim_key
            ].to_pylist()
        )
        assert set(t1[fk].to_pylist()) <= dimkeys, t
        for col in t0.column_names:
            if col != fk:
                assert t1[col].equals(t0[col]) or (
                    t1[col].to_pylist() == t0[col].to_pylist()
                ), (t, col)
    for t in ("region", "nation", "customer", "supplier", "part",
              "documents", "embeddings"):
        t1 = pq.read_table(f"{skew_dir}/{t}.parquet")
        t0 = pq.read_table(f"{src}/{t}.parquet")
        assert t1.equals(t0), t


def test_scale_probe_manifest_gates_reuse(tmp_path):
    """_gen_dir only reuses an existing probe dir when its manifest
    matches the current generator identity (sizes + seed + source
    hash); a stale or missing manifest forces regeneration (r10
    ADVICE: stale /tmp data silently fed BENCHHEAVY exponents)."""
    import json
    import os

    from tools.scale_probe import _gen_dir, _gen_manifest

    base = str(tmp_path)
    d = _gen_dir(base, 1)
    mpath = os.path.join(d, "manifest.json")
    assert json.load(open(mpath)) == _gen_manifest(1)
    stamp = os.path.getmtime(os.path.join(d, "documents.parquet"))

    # Matching manifest -> reused, parquet untouched.
    assert _gen_dir(base, 1) == d
    assert os.path.getmtime(os.path.join(d, "documents.parquet")) == stamp

    # Tampered manifest (e.g. generator changed since) -> regenerated.
    bad = dict(_gen_manifest(1), generator_md5="stale")
    json.dump(bad, open(mpath, "w"))
    _gen_dir(base, 1)
    assert json.load(open(mpath)) == _gen_manifest(1)

    # Parquet present but no manifest at all -> regenerated with one.
    os.remove(mpath)
    _gen_dir(base, 1)
    assert os.path.exists(mpath)


# ---------------------------------------------------------------- bench.py
# Median-family membership gates (ADVICE r16): a hand-edited tracked
# artifact must not join median_of_runs, and a legitimately
# median-refreshed canonical (which differs from its blob ONLY in that
# derived field) must.


@pytest.fixture()
def git_repo(tmp_path):
    import json
    import os

    repo = tmp_path / "r"
    repo.mkdir()
    env = dict(
        os.environ,
        GIT_AUTHOR_NAME="t", GIT_AUTHOR_EMAIL="t@t",
        GIT_COMMITTER_NAME="t", GIT_COMMITTER_EMAIL="t@t",
    )

    def git(*a):
        subprocess.run(
            ["git", *a], cwd=repo, check=True, capture_output=True, env=env
        )

    git("init", "-q")
    art = repo / "BENCHFULL_r99.json"
    art.write_text(
        json.dumps({"value": 100.0, "sf": 0.1, "commit": "abc1234"}) + "\n"
    )
    git("add", "BENCHFULL_r99.json")
    git("commit", "-qm", "seed")
    return repo, art


def test_bench_blob_gate_accepts_unmodified_and_untracked(git_repo):
    import json

    import bench

    repo, art = git_repo
    assert bench._artifact_matches_committed_blob(str(art), str(repo))
    new = repo / "BENCHFULL_r99_rerun1.json"
    new.write_text(json.dumps({"value": 90.0, "sf": 0.1}) + "\n")
    assert bench._artifact_matches_committed_blob(str(new), str(repo))


def test_bench_blob_gate_accepts_median_only_refresh(git_repo):
    import json

    import bench

    repo, art = git_repo
    d = json.loads(art.read_text())
    d["median_of_runs"] = {"n_runs": 2, "value": 95.0}
    art.write_text(json.dumps(d) + "\n")
    assert bench._artifact_matches_committed_blob(str(art), str(repo))


def test_bench_blob_gate_rejects_edited_measurement(git_repo):
    import json

    import bench

    repo, art = git_repo
    d = json.loads(art.read_text())
    d["value"] = 10.0  # hand-edited headline
    art.write_text(json.dumps(d) + "\n")
    assert not bench._artifact_matches_committed_blob(str(art), str(repo))


# ------------------------------------------------- streaming/maintenance gen
# The scale probes' backlog/warehouse generators are numpy-only; their
# structural invariants (row counts, dup rate, manifest-gated reuse,
# pristine-root gate) are pinned here at toy scale without a Spark
# session.


def test_probe_streaming_backlog_gen(tmp_path, monkeypatch):
    import collections
    import json
    import os

    import tools.probe_streaming as ps

    monkeypatch.setattr(ps, "BASE", str(tmp_path))
    monkeypatch.setattr(ps, "BACKLOG", str(tmp_path / "backlog"))
    monkeypatch.setattr(ps, "N_FILES", 8)
    monkeypatch.setattr(ps, "ROWS_PER_FILE", 1500)
    m = ps.gen_backlog()
    assert m["n_rows"] == 8 * 1500
    files = sorted(os.listdir(tmp_path / "backlog"))
    assert len(files) == 8 and files == sorted(files)
    keys = []
    ts_max_prev = None
    for f in files:
        t = pq.read_table(tmp_path / "backlog" / f)
        keys += t.column("k").to_pylist()
        lo = min(t.column("ts").to_pylist())
        # files follow event time (batches must advance the watermark)
        if ts_max_prev is not None:
            assert lo >= ts_max_prev
        ts_max_prev = max(t.column("ts").to_pylist())
    c = collections.Counter(keys)
    assert len(c) == m["n_unique"]
    dup_rows = sum(v - 1 for v in c.values())
    # file 0 has no dup pool; files 1-7 each carry DUP_RATE dups
    assert dup_rows == 7 * int(1500 * ps.DUP_RATE)
    # manifest-gated reuse: second call is a no-op
    mtime = os.path.getmtime(tmp_path / "backlog" / files[0])
    assert ps.gen_backlog()["n_unique"] == m["n_unique"]
    assert os.path.getmtime(tmp_path / "backlog" / files[0]) == mtime
    # param change invalidates
    monkeypatch.setattr(ps, "ROWS_PER_FILE", 1000)
    m2 = ps.gen_backlog()
    assert m2["n_rows"] == 8 * 1000


def test_probe_maintenance_root_gen_pristine_gate(tmp_path, monkeypatch):
    import os
    import shutil

    import tools.probe_maintenance as pm

    monkeypatch.setattr(pm, "BASE", str(tmp_path))
    monkeypatch.setattr(pm, "ROOT", str(tmp_path / "warehouse"))
    monkeypatch.setattr(pm, "N_PARTS", 3)
    monkeypatch.setattr(pm, "FILES_PER_PART", 4)
    monkeypatch.setattr(pm, "ROWS_PER_FILE", 100)
    pm.gen_root()
    assert pm._count_files(pm.ROOT) == 12
    parts = sorted(os.listdir(pm.ROOT))
    assert parts == ["dt=2026-01-01", "dt=2026-01-02", "dt=2026-01-03"]
    # reuse: no rewrite when pristine
    f0 = os.path.join(pm.ROOT, parts[0], "part-00000.parquet")
    mtime = os.path.getmtime(f0)
    pm.gen_root()
    assert os.path.getmtime(f0) == mtime
    # post-run mutation (a compaction/expire) fails the pristine gate
    shutil.rmtree(os.path.join(pm.ROOT, parts[2]))
    pm.gen_root()
    assert pm._count_files(pm.ROOT) == 12


def test_probe_upsert_tick_frame_accounting():
    """The MERGE probe's re-delivery math: tick 0 is all-fresh; later
    ticks re-deliver exactly REDELIVER_RATE of rows as previous-day
    keys with previous-day timestamps, so warehouse-unique counting
    (sum of n_new) is exact."""
    import numpy as np

    import tools.probe_upsert as pu

    rng = np.random.default_rng(0)
    k0, ts0, _v0, n0 = pu._tick_frame(0, rng)
    assert n0 == len(k0) == pu.ROWS_PER_FILE
    assert len(set(k0.tolist())) == pu.ROWS_PER_FILE  # all fresh
    k1, ts1, _v1, n1 = pu._tick_frame(1, rng)
    n_dup = int(pu.ROWS_PER_FILE * pu.REDELIVER_RATE)
    assert n1 == pu.ROWS_PER_FILE - n_dup
    dup_mask = np.isin(k1, k0)
    assert dup_mask.sum() == n_dup  # every dup is a tick-0 key
    day = 86_400
    # re-delivered rows carry PREVIOUS-day timestamps (so the
    # partitioned variant's read-back must include that partition)
    assert ((ts1[dup_mask] - pu.T0_EPOCH) // day == 0).all()
    assert ((ts1[~dup_mask] - pu.T0_EPOCH) // day == 1).all()


def test_probe_joins_generators(tmp_path, monkeypatch):
    """Structural pins for the temporal-join probe corpus (r17
    precedent: probe generators get toy-scale tests): SPP tiles must
    tile time exactly (contiguous, inclusive-end, no double-match
    possible), windows are one 1-day interval per uid, fact timestamps
    stay inside the declared range, and the manifest gate reuses a
    matching corpus instead of regenerating."""
    import pyarrow.dataset as ds

    import tools.probe_joins as pj

    monkeypatch.setattr(pj, "BASE", str(tmp_path))
    d = pj.gen_dir(1)
    s = pj._sizes(1)

    tiles = ds.dataset(f"{d}/tiles").to_table().to_pandas()
    assert len(tiles) == 4 * s["n_tiles_per_zone"]
    t0 = pj.T0_US
    for zone, g in tiles.groupby("zone"):
        g = g.sort_values("i_start")
        starts = g["i_start"].astype("int64").to_numpy()
        ends = g["i_end"].astype("int64").to_numpy()
        assert starts[0] == t0
        assert (ends - starts == 900_000_000 - 1).all()  # inclusive end
        assert (starts[1:] == ends[:-1] + 1).all()  # contiguous, no overlap
        assert ends[-1] == t0 + s["range_sec"] * 1_000_000 - 1  # full cover
    assert set(tiles["zone"]) == set(pj.ZONES)

    win = ds.dataset(f"{d}/windows").to_table().to_pandas()
    assert len(win) == s["n_uids"]
    assert sorted(win["uid"]) == list(range(s["n_uids"]))  # one per uid
    dur = win["w_end"].astype("int64") - win["w_start"].astype("int64")
    assert (dur == 86_400_000_000).all()

    left = ds.dataset(f"{d}/left").to_table().to_pandas()
    assert len(left) == s["n_left"]
    ts = left["ts"].astype("int64")
    assert ts.min() >= t0 and ts.max() < t0 + s["range_sec"] * 1_000_000
    assert left["uid"].between(0, s["n_uids"] - 1).all()
    assert set(left["zone"]) == set(pj.ZONES)

    # manifest gate: second call must REUSE (mtime unchanged), a
    # version bump must regenerate
    import os

    probe_file = os.path.join(d, "left", "part0000.parquet")
    mtime = os.path.getmtime(probe_file)
    assert pj.gen_dir(1) == d
    assert os.path.getmtime(probe_file) == mtime
    monkeypatch.setattr(pj, "_GEN_VERSION", pj._GEN_VERSION + 1)
    pj.gen_dir(1)
    assert os.path.getmtime(probe_file) != mtime


def test_oracle_check_puts_its_own_checkout_first(tmp_path, monkeypatch):
    """The tools import the engine from the checkout they live in, so a
    check or benchmark run from a copy of the repository measures that
    copy, not another checkout."""
    import importlib.util
    import shutil
    from pathlib import Path

    real_root = Path(__file__).resolve().parent.parent
    copy_root = tmp_path / "checkout"
    (copy_root / "tools").mkdir(parents=True)
    shutil.copy(real_root / "tools" / "oracle_check.py", copy_root / "tools")
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location(
        "oracle_check_copy", copy_root / "tools" / "oracle_check.py"
    )
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
    assert sys.path[0] == str(copy_root)
    assert sys.path[0] != str(real_root)
