"""Gate-shape self-check: simulate the driver canonicalizer's limits.

Round 1 lost certification credit to two representational (not
logical) failures:

- op96/op107 returned array-typed columns → the driver's pandas-based
  canonicalizer crashed with `unhashable type: 'list'` (recorded in
  CORRECTNESS_r01.json). This bites ROWS ops too — the rows-only check
  still canonicalizes the frame.
- op06 returned a DECIMAL column → values matched as multisets but the
  Decimal-vs-float representation hashed differently across pandas.

So the contract for every observable surface in `queries()`:

1. no ArrayType / MapType / StructType output column, ever;
2. no DecimalType output column (surface as DOUBLE or canonical
   VARCHAR instead — see operators/_helpers.dsum and op67);
3. column names unique (pandas canonicalization is name-keyed).

This test builds every registered operator's DataFrame and asserts the
schema obeys all three — a regression here would silently cost a green
CORRECTNESS row next sweep.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

from ocdb_server_spark.registry import REGISTRY, load_all

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
import sweep_order  # noqa: E402  (the certification bookkeeping script)

OPS = load_all()
ROOT = sweep_order.ROOT

# Ops whose fn performs eager work at build time (streaming
# availableNow runs, sink roundtrips). Their schemas are still checked —
# they're just slower; nothing is exempt from the shape contract.
ALL_OPS = sorted(OPS)


def test_row_is_green_predicate():
    """Sweep-order regression test (round-3 verdict item 1): a row that
    ERRORED must not count as certified — else a fixed op sorts behind
    every never-swept op and, under the ~50-entry budget, is never
    re-checked (op96/op107 sat on stale r1 crash rows for two rounds)."""
    from sweep_order import _row_is_green

    green_sql = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 10, "oracle_rows": 10, "err": None,
    }
    green_rows_only = {
        "rows_match": None, "schema_match": None, "hash_match": None,
        "spark_rows": 27, "oracle_rows": None, "err": "no_oracle",
    }
    crashed = dict(green_rows_only, spark_rows=None, err="TypeError: boom")
    hash_mismatch = dict(green_sql, hash_match=False)
    no_oracle_no_rows = dict(green_rows_only, spark_rows=None)

    assert _row_is_green(green_sql)
    assert _row_is_green(green_rows_only)
    assert not _row_is_green(crashed)
    assert not _row_is_green(hash_mismatch)
    assert not _row_is_green(no_oracle_no_rows)
    assert not _row_is_green(None)


def test_sweep_order_fronts_errored_ops(tmp_path):
    """Sweep-order logic pinned against SYNTHETIC CORRECTNESS fixtures
    (round-4 verdict item 1: the old version read the repo's LIVE files
    and self-destructed the moment its stale ops got certified).

    Scenario mirrors the round-1-3 history: op_crash's only row is a
    canonicalizer crash, op_flip passed early then errored later,
    op_virgin was never swept; op_green and op_rows are certified.
    All three non-green ops must sort before every certified op, and a
    later round's row must override an earlier one in both directions.
    """
    from sweep_order import _sweep_order

    green_sql = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 10, "oracle_rows": 10, "err": None,
    }
    green_rows = {
        "rows_match": None, "schema_match": None, "hash_match": None,
        "spark_rows": 27, "oracle_rows": None, "err": "no_oracle",
    }
    crashed = dict(green_rows, spark_rows=None, err="TypeError: boom")

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "op_green": green_sql,
        "op_rows": green_rows,
        "op_crash": crashed,
        "op_flip": green_sql,          # passed in r1...
        "op_late": crashed,            # crashed in r1...
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "op_flip": dict(green_sql, hash_match=False, err=None),  # ...broke in r2
        "op_late": green_rows,         # ...certified in r2
        "op_fresh": green_sql,         # re-certified in r2 (fresh evidence)
    }))

    # op_fresh registers FIRST but has the freshest evidence (r2) — the
    # round-5 verdict's staleness rule must sort it behind the r1-era
    # certified ops despite registration order.
    keys = ["op_fresh", "op_green", "op_rows", "op_crash", "op_flip",
            "op_virgin", "op_late"]
    ordered = _sweep_order(keys, str(tmp_path), OPS)

    front = {"op_crash", "op_flip", "op_virgin"}
    back = {"op_green", "op_rows", "op_late", "op_fresh"}
    assert set(ordered[:3]) == front, f"uncertified ops must front: {ordered}"
    assert set(ordered[3:]) == back, f"certified ops must trail: {ordered}"
    # within the uncertified group, no costs file → registration order
    assert ordered[:3] == ["op_crash", "op_flip", "op_virgin"]
    # certified: STALEST round first (r1 before r2), registration order
    # within a round — op_fresh's r2 evidence sorts it behind r1 ops.
    assert ordered[3:] == ["op_green", "op_rows", "op_fresh", "op_late"]


def test_sweep_order_demotes_oracle_upgraded_ops(tmp_path):
    """The r9 demotion rule: an op that NOW registers a SQL oracle but
    whose latest green driver row was a rows-only (`err: "no_oracle"`)
    check has never had its hash gate run — it must sort into the
    uncertified front group. A genuinely ROWS-only op (oracle=None)
    with the same row shape stays certified. Uses REAL registry keys
    because the rule consults the live REGISTRY's oracle field."""
    from sweep_order import _sweep_order

    sql_op = "op17_agg_groupby"          # has an oracle today
    rows_op = "op20_agg_approx_count_distinct"  # oracle=None by design
    assert REGISTRY[sql_op].oracle is not None
    assert REGISTRY[rows_op].oracle is None

    green_rows = {
        "rows_match": None, "schema_match": None, "hash_match": None,
        "spark_rows": 5, "oracle_rows": None, "err": "no_oracle",
    }
    green_sql = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 5, "oracle_rows": 5, "err": None,
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        sql_op: green_rows,   # green, but under the OLD no-oracle check
        rows_op: green_rows,  # green under its designed check
        "op_other": green_sql,
    }))
    ordered = _sweep_order([rows_op, "op_other", sql_op], str(tmp_path), OPS)
    assert ordered[0] == sql_op, (
        f"oracle-upgraded op must re-certify first: {ordered}"
    )
    assert set(ordered[1:]) == {rows_op, "op_other"}


def test_sweep_order_demotes_rewritten_oracles(tmp_path):
    """Round-9 ADVICE rule 2: an op whose SQL oracle TEXT changed after
    its latest SQL-green row is uncertified until the new text's hash
    gate runs. oracle_fp.json records {fp, since_round}; a green row
    with round < since_round certified a DIFFERENT oracle. Also pins
    the self-maintenance path: a book whose fp no longer matches the
    registered oracle is refreshed in-place (since_round = latest
    recorded round + 1) before the demotion check."""
    from sweep_order import _oracle_fp, _sweep_order, certified_rounds

    sql_op = "op17_agg_groupby"
    green_sql = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 5, "oracle_rows": 5, "err": None,
    }
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({sql_op: green_sql, "op_other": green_sql})
    )
    fpdir = tmp_path / "ocdb_server_spark"
    fpdir.mkdir()
    cur_fp = _oracle_fp(OPS[sql_op].oracle)

    # Case 1: book says the current text went live AFTER the green row
    # → demoted to the front.
    (fpdir / "oracle_fp.json").write_text(
        json.dumps({sql_op: {"fp": cur_fp, "since_round": 4}})
    )
    ordered = _sweep_order(["op_other", sql_op], str(tmp_path), OPS)
    assert ordered[0] == sql_op, f"rewritten oracle must re-certify first: {ordered}"

    # Case 2: same book but the green row postdates the rewrite → stays
    # certified (sorts by staleness like any other certified op).
    (fpdir / "oracle_fp.json").write_text(
        json.dumps({sql_op: {"fp": cur_fp, "since_round": 3}})
    )
    ordered = _sweep_order(["op_other", sql_op], str(tmp_path), OPS)
    assert sql_op in certified_rounds(str(tmp_path), OPS)

    # Case 3: the book's fp is STALE (oracle edited, updater never ran)
    # — refresh_oracle_fps must heal: main() rewrites the entry with
    # since_round = latest+1 (=4) and the demotion then fires.
    (fpdir / "oracle_fp.json").write_text(
        json.dumps({sql_op: {"fp": "0" * 16, "since_round": 1}})
    )
    ordered = _sweep_order(["op_other", sql_op], str(tmp_path), OPS)
    assert ordered[0] == sql_op, f"stale-fp op must re-certify first: {ordered}"
    sweep_order.main(str(tmp_path))
    healed = json.loads((fpdir / "oracle_fp.json").read_text())
    assert healed[sql_op]["fp"] == cur_fp
    assert healed[sql_op]["since_round"] == 4

    # Case 4 (round-10 review): a MALFORMED entry — fp correct but
    # since_round null (hand-edit / merge mangle) — must be healed,
    # never crash the fold (iter_correctness_rounds' own rule).
    (fpdir / "oracle_fp.json").write_text(
        json.dumps({sql_op: {"fp": cur_fp, "since_round": None}})
    )
    ordered = _sweep_order(["op_other", sql_op], str(tmp_path), OPS)
    assert ordered[0] == sql_op, f"healed op must re-certify first: {ordered}"
    sweep_order.main(str(tmp_path))
    healed = json.loads((fpdir / "oracle_fp.json").read_text())
    assert healed[sql_op]["since_round"] == 4


def test_sweep_order_demotes_rewritten_rows_snapshots(tmp_path):
    """Round-10 verdict item 4: a ROWS-only op's checker is its golden
    snapshot entry (tests/rows_snapshot_sf0.001.json). Rewriting that
    entry must re-front the op exactly as a rewritten SQL oracle does
    — its old rows-green gated a DIFFERENT snapshot. Mirrors
    test_sweep_order_demotes_rewritten_oracles with the snapshot file
    as the fingerprinted text."""
    from sweep_order import _sweep_order, certified_rounds

    rows_op = "op194_minhash_rollup"
    assert OPS[rows_op].oracle is None  # stays ROWS-only by design
    green_rows = {
        "rows_match": None, "schema_match": None, "hash_match": None,
        "spark_rows": 5, "oracle_rows": None, "err": "no_oracle",
    }
    green_sql = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 5, "oracle_rows": 5, "err": None,
    }
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({rows_op: green_rows, "op_other": green_sql})
    )
    fpdir = tmp_path / "ocdb_server_spark"
    fpdir.mkdir()
    tdir = tmp_path / "tests"
    tdir.mkdir()
    snap_entry = {"n_rows": 7, "columns": ["a", "b"], "hash": "c0ffee"}
    (tdir / "rows_snapshot_sf0.001.json").write_text(
        json.dumps({rows_op: snap_entry})
    )
    import hashlib

    cur_fp = hashlib.sha256(
        json.dumps(snap_entry, sort_keys=True).encode()
    ).hexdigest()[:16]

    # Case 1: book fp matches the snapshot, green postdates since_round
    # → stays certified.
    (fpdir / "oracle_fp.json").write_text(
        json.dumps({rows_op: {"fp": cur_fp, "since_round": 2}})
    )
    assert rows_op in certified_rounds(str(tmp_path), OPS)

    # Case 2: the snapshot entry is REWRITTEN (regenerated after a
    # semantics change) — refresh must heal the book (since_round =
    # latest recorded round + 1 = 4) and the demotion fires.
    (tdir / "rows_snapshot_sf0.001.json").write_text(
        json.dumps({rows_op: {**snap_entry, "hash": "deadbeef"}})
    )
    ordered = _sweep_order(["op_other", rows_op], str(tmp_path), OPS)
    assert ordered[0] == rows_op, (
        f"rewritten-snapshot op must re-certify first: {ordered}"
    )
    sweep_order.main(str(tmp_path))
    healed = json.loads((fpdir / "oracle_fp.json").read_text())
    assert healed[rows_op]["since_round"] == 4
    assert healed[rows_op]["fp"] != cur_fp

    # Case 3: no snapshot file on disk (tests-less deploy) — nothing to
    # fingerprint: the on-disk book is kept as-is and no ROWS demotion
    # fires (degrade-gracefully, never crash or spuriously demote).
    (tdir / "rows_snapshot_sf0.001.json").unlink()
    (fpdir / "oracle_fp.json").write_text(
        json.dumps({rows_op: {"fp": cur_fp, "since_round": 2}})
    )
    assert rows_op in certified_rounds(str(tmp_path), OPS)
    sweep_order.main(str(tmp_path))
    kept = json.loads((fpdir / "oracle_fp.json").read_text())
    assert kept[rows_op] == {"fp": cur_fp, "since_round": 2}


@pytest.mark.parametrize("name", ALL_OPS)
def test_output_schema_is_canonicalizer_safe(name, spark, sf_dir):
    df = OPS[name].fn(spark, sf_dir)
    seen: set[str] = set()
    for field in df.schema.fields:
        assert field.name not in seen, f"{name}: duplicate output column {field.name!r}"
        seen.add(field.name)
        dt = field.dataType
        assert not isinstance(dt, (ArrayType, MapType, StructType)), (
            f"{name}: column {field.name!r} is {dt.simpleString()} — complex "
            "types crash the driver's canonicalizer (round-1 op96/op107); "
            "stringify with array_join/to_json or emit scalar columns"
        )
        assert not isinstance(dt, DecimalType), (
            f"{name}: column {field.name!r} is {dt.simpleString()} — DECIMAL "
            "hashes ambiguously across pandas (round-1 op06); cast to "
            "double or canonical varchar on BOTH engine and oracle sides"
        )


def test_sweep_order_demotes_rewritten_plan_source(tmp_path):
    """Round-11 verdict item 3: a PLAN rewrite under an unchanged
    checker (op261's r11 parallel-writer precedent) used to be
    invisible to the book and relied on a hand-bumped since_round.
    Each entry now carries src_fp = hash of the op function's source
    at registration. Pins: (1) a pre-r12 entry without src_fp ADOPTS
    the current source with no bump (grandfathering — certification
    survives the migration); (2) an entry whose src_fp no longer
    matches the registered plan demotes to the front and heals with
    since_round = latest+1, no hand-bump; (3) a matching src_fp is a
    no-op."""
    from sweep_order import _oracle_fp, _sweep_order, certified_rounds, src_fp

    sql_op = "op17_agg_groupby"
    assert src_fp(OPS[sql_op]), "the plan source must be fingerprinted"
    green_sql = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 5, "oracle_rows": 5, "err": None,
    }
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({sql_op: green_sql, "op_other": green_sql})
    )
    fpdir = tmp_path / "ocdb_server_spark"
    fpdir.mkdir()
    cur_fp = _oracle_fp(OPS[sql_op].oracle)
    cur_src = src_fp(OPS[sql_op])

    # Case 1: legacy entry (no src_fp) — adopted in place, NOT demoted.
    (fpdir / "oracle_fp.json").write_text(
        json.dumps({sql_op: {"fp": cur_fp, "since_round": 2}})
    )
    assert sql_op in certified_rounds(str(tmp_path), OPS)
    sweep_order.main(str(tmp_path))
    migrated = json.loads((fpdir / "oracle_fp.json").read_text())
    assert migrated[sql_op] == {
        "fp": cur_fp, "since_round": 2, "src_fp": cur_src,
    }

    # Case 2: the registered plan was rewritten (src_fp differs) under
    # an UNCHANGED oracle — the green row certified a different plan:
    # demote to the front, heal since_round to latest+1 = 4.
    (fpdir / "oracle_fp.json").write_text(json.dumps(
        {sql_op: {"fp": cur_fp, "since_round": 2, "src_fp": "0" * 16}}
    ))
    ordered = _sweep_order(["op_other", sql_op], str(tmp_path), OPS)
    assert ordered[0] == sql_op, (
        f"plan-rewritten op must re-certify first: {ordered}"
    )
    sweep_order.main(str(tmp_path))
    healed = json.loads((fpdir / "oracle_fp.json").read_text())
    assert healed[sql_op] == {
        "fp": cur_fp, "since_round": 4, "src_fp": cur_src,
    }

    # Case 3: everything matches — entry untouched, still certified.
    (fpdir / "oracle_fp.json").write_text(json.dumps(
        {sql_op: {"fp": cur_fp, "since_round": 2, "src_fp": cur_src}}
    ))
    assert sql_op in certified_rounds(str(tmp_path), OPS)
    sweep_order.main(str(tmp_path))
    kept = json.loads((fpdir / "oracle_fp.json").read_text())
    assert kept[sql_op]["since_round"] == 2


def test_register_deps_fold_into_src_fp():
    """register(deps=...) must fold each declared helper's source into
    the op's src_fp (round-12 review: the op body is often a thin
    wrapper — a plan rewrite inside an undeclared helper was the
    fingerprint rule's blind spot). Pins: declaring a dep changes the
    fingerprint vs the bare registration, different deps give
    different fingerprints, and the op264/op263 registrations
    actually declare their kernels."""
    import hashlib
    import inspect

    from ocdb_server_spark.functions.cdc import apply_changes, collapse_feed
    from ocdb_server_spark.operators.pipeline_r12 import (
        cdc_base_snapshot,
        cdc_changes_feed,
        op264_cdc_apply_changes,
    )
    # the live registration folds the declared kernels: recompute the
    # expected hash from the unwrapped fn + its declared deps
    fn = inspect.unwrap(op264_cdc_apply_changes)
    src = inspect.getsource(fn)
    src += inspect.getsource(apply_changes)
    src += inspect.getsource(collapse_feed)
    src += inspect.getsource(cdc_changes_feed)
    src += inspect.getsource(cdc_base_snapshot)
    expected = hashlib.sha256(src.encode()).hexdigest()[:16]
    assert sweep_order.src_fp(OPS["op264_cdc_apply_changes"]) == expected
    # and WITHOUT the deps the fingerprint differs — so a helper edit
    # is guaranteed to move the registered fingerprint
    bare = hashlib.sha256(
        inspect.getsource(fn).encode()
    ).hexdigest()[:16]
    assert bare != expected

    from ocdb_server_spark.operators.pipeline_r5 import (
        bm25_scored_docs,
        op183_bm25_topk,
    )

    fn183 = inspect.unwrap(op183_bm25_topk)
    exp183 = hashlib.sha256(
        (inspect.getsource(fn183) + inspect.getsource(bm25_scored_docs)).encode()
    ).hexdigest()[:16]
    assert sweep_order.src_fp(OPS["op183_bm25_topk"]) == exp183


def test_backup_correctness_files_are_skipped(tmp_path):
    """Round-13 review: CORRECTNESS_r1_v2.json used to concatenate ALL
    digits ('1' + '2' → round 12) and override genuine round-12 rows.
    Only fully-numeric round tails are driver records — anything else
    is a backup/rename and must not fold as evidence."""
    from sweep_order import iter_correctness_rounds

    green = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 1, "oracle_rows": 1, "err": None,
    }
    bad = dict(green, hash_match=False)
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"op_a": green}))
    (tmp_path / "CORRECTNESS_r12.json").write_text(json.dumps({"op_a": green}))
    (tmp_path / "CORRECTNESS_r1_v2.json").write_text(json.dumps({"op_a": bad}))
    folded = list(iter_correctness_rounds(str(tmp_path)))
    assert [rnd for rnd, _ in folded] == [1, 12]
    assert all(rows["op_a"]["hash_match"] for _, rows in folded)


def test_sweep_order_survives_malformed_op_costs(tmp_path):
    """Round-13 review: a list-shaped or string-valued op_costs.json
    crashed load_all() — and with it every driver entry point. The
    fold's own rule: a malformed book never breaks the fold."""
    from sweep_order import _sweep_order

    green = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 1, "oracle_rows": 1, "err": None,
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"op_a": green}))
    pkg = tmp_path / "ocdb_server_spark"
    pkg.mkdir()
    (pkg / "op_costs.json").write_text(json.dumps(["not", "a", "dict"]))
    assert _sweep_order(["op_a", "op_b"], str(tmp_path), OPS)  # no crash
    (pkg / "op_costs.json").write_text(
        json.dumps({"op_a": "NaN-ish string", "op_b": 0.5})
    )
    ordered = _sweep_order(["op_a", "op_b"], str(tmp_path), OPS)
    assert set(ordered) == {"op_a", "op_b"}


def test_unhashable_dep_does_not_zero_plan_fingerprint():
    """Round-13 review: one source-less dep (builtin/C extension) used
    to zero the op's src_fp, silently disabling plan-rewrite demotion
    for the whole op."""
    from ocdb_server_spark.registry import register

    name = "op_test_unhashable_dep"
    try:
        @register(name, oracle=None, deps=(len,))  # len: no source
        def op_test_unhashable_dep(spark, sf_dir):  # pragma: no cover
            raise NotImplementedError

        assert sweep_order.src_fp(REGISTRY[name]) != ""
    finally:
        REGISTRY.pop(name, None)



def test_load_all_fronts_ops_missing_from_the_order():
    """An op that op_order.json does not list is new, so uncertified:
    load_all() puts it first and keeps the committed order after it."""
    from ocdb_server_spark.registry import register

    name = "op_test_unlisted"
    try:
        @register(name)
        def op_test_unlisted(spark, sf_dir):  # pragma: no cover
            raise NotImplementedError

        assert list(load_all()) == [name, *OPS]
    finally:
        REGISTRY.pop(name, None)

def test_sweep_order_books_are_fresh():
    """The committed books are what the fold makes of the committed
    evidence: editing an op, a declared dep, an oracle or the rows
    snapshot (or landing a CORRECTNESS/op_costs file) without re-running
    the script fails here, so queries() never serves a stale order.
    Folds in a fresh interpreter, as the script runs: registration order
    is the order's tie-break, and this process imported operator
    modules in its own order."""
    code = (
        "import json, sweep_order; "
        "print(json.dumps(sweep_order.books(sweep_order.ROOT)))"
    )
    res = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.join(ROOT, "scripts"),
        capture_output=True,
        text=True,
        check=True,
    )
    for rel, text in json.loads(res.stdout).items():
        with open(os.path.join(ROOT, rel)) as f:
            assert f.read() == text, (
                f"{rel} is stale: run `python scripts/sweep_order.py` "
                "and commit both books"
            )


def test_load_all_skips_certification_bookkeeping(tmp_path):
    """A fresh load_all() reads the committed sweep order and nothing of
    the certification evidence, and writes no file: the fold and the
    fingerprint book live in scripts/sweep_order.py only."""
    code = """
import json, os, sys
events = []
sys.addaudithook(
    lambda ev, args: events.append([str(args[0]), args[1], args[2]])
    if ev == "open" else None
)
from ocdb_server_spark.registry import load_all
load_all()
print(json.dumps(events))
"""
    res = subprocess.run(
        [sys.executable, "-B", "-c", code],
        cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": ROOT},
        capture_output=True,
        text=True,
        check=True,
    )
    events = json.loads(res.stdout.splitlines()[-1])
    names = [os.path.basename(path) for path, _, _ in events]
    assert "op_order.json" in names  # the hook sees the registry's reads
    banned = {"oracle_fp.json", "op_costs.json", "rows_snapshot_sf0.001.json"}
    read = [n for n in names if n in banned or n.startswith("CORRECTNESS_r")]
    assert read == [], f"load_all() read certification books: {read}"
    write_flags = os.O_WRONLY | os.O_RDWR | os.O_CREAT | os.O_APPEND | os.O_TRUNC
    written = [
        path
        for path, mode, flags in events
        if (isinstance(mode, str) and set(mode) & set("wax+"))
        or (isinstance(flags, int) and flags & write_flags)
    ]
    assert written == [], f"load_all() opened files for writing: {written}"
