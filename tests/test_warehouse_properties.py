"""Randomized warehouse-layer properties (r12, hypothesis).

The CDC fold and the SCD2 merge are the two operators whose semantics
live in edge cases (NULL keys, NULL tracked values, delete-then-reopen,
keys absent from a batch) rather than in the happy path — exactly where
example-based tests under-sample. These properties drive them with
adversarial generated scenarios against pure-Python oracles:

- ``apply_cdc`` over many independent feeds in ONE Spark job (the feeds
  are multiplexed through a composite ``(feed_id, k)`` key, so hypothesis
  examples stay cheap) must equal a dict fold per feed. NULL keys and
  NULL payloads are in the strategy — the plain-equality anti-join bug
  this property was written against duplicated NULL-key rows and ignored
  NULL-key deletes (fixed in operators/cdc.py, r12).
- ``scd2_apply`` over a random batch sequence must keep the version-table
  invariants: exactly one open version per live key, open value == the
  last-write-wins fold, version count per key == the consecutive-distinct
  change count (null-safe), and an unbroken valid_from -> valid_to chain.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from edu_data_pipeline_spark.operators.cdc import apply_cdc
from edu_data_pipeline_spark.operators.warehouse import scd2_apply

SETTLE = settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

KEYS = st.sampled_from([0, 1, 2, 3, None])
VALS = st.sampled_from(["a", "b", "c", None])

# one feed: (snapshot dict, list of (k, v, op) changes — seqs assigned
# positionally so they are unique within the feed and later wins)
feed = st.tuples(
    st.dictionaries(KEYS, VALS, max_size=5),
    st.lists(st.tuples(KEYS, VALS, st.sampled_from("IUD")), max_size=10),
)

CH_SCHEMA = T.StructType(
    [
        T.StructField("feed_id", T.IntegerType()),
        T.StructField("k", T.IntegerType()),
        T.StructField("v", T.StringType()),
        T.StructField("_op", T.StringType()),
        T.StructField("seq", T.IntegerType()),
    ]
)
SNAP_SCHEMA = T.StructType(CH_SCHEMA.fields[:3])


def _fold(snap: dict, changes: list[tuple]) -> dict:
    """The reference fold: last change per key wins; D drops the key."""
    latest: dict = {}
    for seq, (k, v, op) in enumerate(changes):
        latest[k] = (v, op, seq)  # later enumeration index == higher seq
    out = dict(snap)
    for k, (v, op, _) in latest.items():
        if op == "D":
            out.pop(k, None)
        else:
            out[k] = v
    return out


@SETTLE
@given(st.lists(feed, min_size=1, max_size=6))
def test_apply_cdc_matches_python_fold(spark, feeds):
    snap_rows = [
        (i, k, v) for i, (snap, _) in enumerate(feeds) for k, v in snap.items()
    ]
    ch_rows = [
        (i, k, v, op, seq)
        for i, (_, changes) in enumerate(feeds)
        for seq, (k, v, op) in enumerate(changes)
    ]
    snap_df = spark.createDataFrame(snap_rows, SNAP_SCHEMA)
    ch_df = spark.createDataFrame(ch_rows, CH_SCHEMA)
    out = apply_cdc(snap_df, ch_df, ["feed_id", "k"], "seq")
    got = sorted(((r.feed_id, r.k, r.v) for r in out.collect()), key=str)
    want = sorted(
        (
            (i, k, v)
            for i, (snap, changes) in enumerate(feeds)
            for k, v in _fold(snap, changes).items()
        ),
        key=str,
    )
    assert got == want


batches = st.lists(st.dictionaries(KEYS, VALS, max_size=4), min_size=1, max_size=4)


@SETTLE
@given(batches)
def test_scd2_invariants_under_random_batches(spark, seq):
    far = "9999-12-31 00:00:00"
    ts = [f"2024-{i + 1:02d}-01 00:00:00" for i in range(len(seq))]
    dim = None
    for batch, t in zip(seq, ts):
        upd = spark.createDataFrame(
            [(k, v) for k, v in batch.items()],
            T.StructType(
                [
                    T.StructField("k", T.IntegerType()),
                    T.StructField("v", T.StringType()),
                ]
            ),
        )
        dim = scd2_apply(dim, upd, ["k"], ["v"], F.lit(t).cast("timestamp"))
    rows = dim.collect() if dim is not None else []

    # Python oracle: per-key consecutive-distinct version list
    history: dict = {}
    for batch, t in zip(seq, ts):
        for k, v in batch.items():
            vers = history.setdefault(k, [])
            if not vers or vers[-1][0] != v:  # null-safe: None != "a", None == None
                vers.append((v, t))

    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r.k, []).append(r)

    assert set(by_key) == set(history)
    for k, vers in history.items():
        got = sorted(by_key[k], key=lambda r: str(r.valid_from))
        # version count == consecutive-distinct change count
        assert [(r.v, str(r.valid_from)[:19]) for r in got] == vers
        # exactly one open version, and it is the last one
        assert [bool(r.is_current) for r in got] == [False] * (len(got) - 1) + [True]
        assert str(got[-1].valid_to)[:19] == far
        # unbroken handoff chain
        for a, b in zip(got, got[1:]):
            assert str(a.valid_to) == str(b.valid_from)


# ---------------------------------------------------------------------------
# merge_upsert (r14, VERDICT r13 fuzz-program extension): the S5 keyed
# upsert underneath ParquetMergeWriter / the streaming foreachBatch MERGE.
# apply_cdc and cleaning.dedup_last_wins are calls to it, so the CDC fuzz
# above runs this fold too — but merge_upsert has two contracts of its
# own the CDC fuzz never touches:
# the target=None bootstrap, and order_col=None, where in-batch
# last-write-wins falls back to monotonically_increasing_id ROW ORDER
# (deterministic for a local-list DataFrame: partition ids and offsets
# both follow list order). Feeds are multiplexed through the composite
# (feed_id, k) key exactly like the CDC property, which also exercises
# multi-column null-safe key equality.
# ---------------------------------------------------------------------------

UP_SCHEMA = T.StructType(
    [
        T.StructField("feed_id", T.IntegerType()),
        T.StructField("k", T.IntegerType()),
        T.StructField("v", T.StringType()),
        T.StructField("seq", T.IntegerType()),
    ]
)

# one feed: (target dict or None, update rows (k, v) — seq is positional,
# so "higher seq wins" and "later row wins" coincide and the order_col=
# "seq" and order_col=None paths must agree with the same twin)
up_feed = st.tuples(
    st.one_of(st.none(), st.dictionaries(KEYS, VALS, max_size=5)),
    st.lists(st.tuples(KEYS, VALS), max_size=10),
)


def _upsert_twin(target: dict | None, updates: list[tuple]) -> dict:
    """dict-overwrite twin of db.py-style upsert: in-batch last write
    wins per key, matched target rows replaced, unmatched kept. Values
    are (v, seq) with seq = -1 for surviving pristine target rows."""
    latest: dict = {}
    for seq, (k, v) in enumerate(updates):
        latest[k] = (v, seq)
    out = {k: (v, -1) for k, v in (target or {}).items()}
    out.update(latest)
    return out


@SETTLE
@given(st.lists(up_feed, min_size=1, max_size=6))
def test_merge_upsert_matches_dict_twin(spark, feeds):
    from edu_data_pipeline_spark.operators.warehouse import merge_upsert

    # Any feed with a None target exercises the bootstrap path; it is
    # multiplexed separately (merge_upsert takes ONE optional target).
    boot_feeds = [(i, f) for i, f in enumerate(feeds) if f[0] is None]
    tgt_feeds = [(i, f) for i, f in enumerate(feeds) if f[0] is not None]

    def run(group, target_is_none):
        if not group:
            return
        tgt_rows = [
            (i, k, v, -1)
            for i, (tgt, _) in group
            for k, v in (tgt or {}).items()
        ]
        upd_rows = [
            (i, k, v, seq)
            for i, (_, ups) in group
            for seq, (k, v) in enumerate(ups)
        ]
        tgt_df = (
            None
            if target_is_none
            else spark.createDataFrame(tgt_rows, UP_SCHEMA)
        )
        upd_df = spark.createDataFrame(upd_rows, UP_SCHEMA)
        want = sorted(
            (
                (i, k, v, seq)
                for i, (tgt, ups) in group
                for k, (v, seq) in _upsert_twin(tgt, ups).items()
            ),
            key=str,
        )
        for order_col in ("seq", None):
            out = merge_upsert(tgt_df, upd_df, ["feed_id", "k"], order_col=order_col)
            got = sorted(
                ((r.feed_id, r.k, r.v, r.seq) for r in out.collect()), key=str
            )
            assert got == want, f"order_col={order_col}"

    run(tgt_feeds, target_is_none=False)
    run(boot_feeds, target_is_none=True)
