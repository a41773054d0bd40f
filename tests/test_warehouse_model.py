"""Model-based check of the warehouse lifecycle.

A hypothesis ``RuleBasedStateMachine`` drives one partitioned table through
appends, merge-on-read deletes (on stable columns and on a column that may
later be renamed or dropped), their materialization, copy-on-write DELETE
and UPDATE (an UPDATE may move rows to another partition), MERGE upserts,
column add / drop (re-add included) / rename and snapshot expiry, and keeps
a pure-Python row model beside it. After every step:

- ``read()`` equals the model;
- ``read(where="p = k")`` equals the model filtered on ``p``;
- while a column is named ``b``, ``read(where="b IS NULL")`` and (for a
  bigint ``b``) ``read(where="b = v")`` equal the model filtered on ``b``:
  stats pruning must bind by field id, and ``b`` may by then name a
  re-added column or another column renamed onto the dropped name;
- the previous snapshot, unless expired, time-travels to the previous
  model state.

Values are the standing wrong-result classes: NULL, ``''``, ``%``, space,
non-BMP characters, and int64 values above 2^53, in data and partition
columns. The table is partitioned by ``p, s`` (identity on a bigint and a
string), so ``%``, space and non-BMP values land in directory names; an
identity ``''`` partition value reads back as NULL (the hive layout cannot
tell them apart — see tests/test_empty_string_partitions_r14.py).

The budget is bounded for tier-1: a derandomized run of a few short
programs on the session's Spark.
"""

from __future__ import annotations

import shutil
import tempfile

from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    precondition,
    rule,
    run_state_machine_as_test,
)

from apache_iceberg_demo_spark.sources.warehouse import Warehouse

BIG = 2**53 + 1
INTS = [None, 0, -1, BIG, 2**63 - 1, -(2**63)]
STRS = [None, "", "%", " ", "\U0001d518", "a b%c", "x"]
PARTS = [0, 1, BIG, -(2**63)]
TABLE = "t"

# Delete predicates, each with its SQL three-valued model twin: a NULL
# comparison keeps the row. DELETES name columns no rule drops or renames;
# B_DELETES name ``b``, which a later rule may rename or drop, so a stored
# merge-on-read predicate must keep binding the values it was recorded
# over. The copy-on-write DELETE and UPDATE rules match rows by them too.
DELETES = [
    ("p = 1", lambda r: r["p"] == 1),
    (f"p = {BIG}", lambda r: r["p"] == BIG),
    ("p IS NULL", lambda r: r["p"] is None),
    ("s = '%'", lambda r: r["s"] == "%"),
    ("s = ''", lambda r: r["s"] == ""),
    ("s IS NULL", lambda r: r["s"] is None),
    ("id % 3 = 0", lambda r: r["id"] % 3 == 0),
]
B_DELETES = [
    ("b = -1", lambda r: r["b"] == -1),
    (f"b = {BIG}", lambda r: r["b"] == BIG),
    ("b IS NULL", lambda r: r["b"] is None),
]

# UPDATE assignments on the partition columns, with the values the model
# stores: each moves the matched rows to another (p, s) tuple, NULL and an
# identity '' (stored as NULL) included
UPDATES = [
    ({"p": "1"}, {"p": 1}),
    ({"p": "NULL"}, {"p": None}),
    ({"s": "'%'"}, {"s": "%"}),
    ({"s": "''"}, {"s": None}),
]


def _value(dtype: str):
    return st.sampled_from(INTS if dtype == "bigint" else STRS)


class WarehouseModel(RuleBasedStateMachine):
    spark = None  # bound by the test before the run

    @initialize(
        rows=st.lists(
            st.tuples(st.sampled_from(PARTS + [None]), st.sampled_from(STRS),
                      _value("string"), _value("bigint")),
            min_size=1, max_size=4,
        )
    )
    def create(self, rows):
        self.dir = tempfile.mkdtemp(prefix="wh-model-")
        self.wh = Warehouse(self.spark, self.dir)
        self.cols = {"id": "bigint", "p": "bigint", "s": "string",
                     "v": "string", "b": "bigint"}
        self.next_id = 0
        self.dropped: list[str] = []
        self.fresh = 0
        self.rows: list[dict] = []
        self.history: list[tuple[int, dict, list[dict]]] = []
        data = [self._row(dict(zip(["p", "s", "v", "b"], r))) for r in rows]
        self.wh.create_or_replace(TABLE, self._frame(data), partition_by="p, s")
        self.rows = [self._stored(r) for r in data]
        self._record()

    def teardown(self):
        shutil.rmtree(getattr(self, "dir", ""), ignore_errors=True)

    # ---- helpers ----

    def _row(self, given: dict) -> dict:
        row = {"id": self.next_id}
        self.next_id += 1
        for c in self.cols:
            if c != "id":
                row[c] = given.get(c)
        return row

    def _frame(self, rows: list[dict]):
        ddl = ", ".join(f"`{c}` {t}" for c, t in self.cols.items())
        return self.spark.createDataFrame(
            [tuple(r[c] for c in self.cols) for r in rows], ddl
        )

    @staticmethod
    def _stored(row: dict) -> dict:
        # an identity '' partition value is written as NULL
        return {**row, "s": None if row["s"] == "" else row["s"]}

    def _sid(self) -> int:
        return self.wh._load_meta(TABLE)["current_snapshot_id"]

    def _record(self) -> None:
        sid = self._sid()
        if not self.history or self.history[-1][0] != sid:
            self.history.append((sid, dict(self.cols), [dict(r) for r in self.rows]))

    @staticmethod
    def _bag(rows, cols) -> list:
        return sorted((tuple(r[c] for c in cols) for r in rows), key=repr)

    def _check(self, df, cols, rows, what: str) -> None:
        assert df.columns == list(cols), (what, df.columns, list(cols))
        got = self._bag((r.asDict() for r in df.collect()), cols)
        want = self._bag(rows, cols)
        assert got == want, f"{what}: read {got} != model {want}"

    def _droppable(self) -> list[str]:
        return [c for c in self.cols if c not in ("id", "p", "s")]

    # ---- rules ----

    @rule(data=st.data(), n=st.integers(1, 3))
    def append(self, data, n):
        rows = [
            self._row({c: data.draw(_value(t)) for c, t in self.cols.items()
                       if c not in ("id", "p")} | {"p": data.draw(st.sampled_from(PARTS))})
            for _ in range(n)
        ]
        self.wh.append(TABLE, self._frame(rows))
        self.rows += [self._stored(r) for r in rows]
        self._record()

    def _delete(self, sql, hit) -> None:
        self.wh.delete_where_mor(TABLE, sql)
        self.rows = [r for r in self.rows if not hit(r)]
        self._record()

    @rule(i=st.integers(0, len(DELETES) - 1))
    def delete_where_mor(self, i):
        self._delete(*DELETES[i])

    # b present as the bigint it was created as (a re-added b may be a string)
    @precondition(lambda self: self.cols.get("b") == "bigint")
    @rule(i=st.integers(0, len(B_DELETES) - 1))
    def delete_where_mor_b(self, i):
        self._delete(*B_DELETES[i])

    def _delete_cow(self, sql, hit) -> None:
        self.wh.delete_where(TABLE, sql)
        self.rows = [r for r in self.rows if not hit(r)]
        self._record()

    @rule(i=st.integers(0, len(DELETES) - 1))
    def delete_where(self, i):
        self._delete_cow(*DELETES[i])

    @precondition(lambda self: self.cols.get("b") == "bigint")
    @rule(i=st.integers(0, len(B_DELETES) - 1))
    def delete_where_b(self, i):
        self._delete_cow(*B_DELETES[i])

    @rule(i=st.integers(0, len(DELETES) - 1), j=st.integers(0, len(UPDATES) - 1))
    def update_where(self, i, j):
        sql, hit = DELETES[i]
        sets, stored = UPDATES[j]
        self.wh.update_where(TABLE, sql, sets)
        self.rows = [{**r, **stored} if hit(r) else r for r in self.rows]
        self._record()

    @rule()
    def expire_snapshots(self):
        self.wh.expire_snapshots(TABLE, keep_last=1)
        self.history = self.history[-1:]

    @rule()
    def apply_deletes(self):
        self.wh.apply_deletes(TABLE)
        self._record()

    @precondition(lambda self: self.rows)
    @rule(data=st.data())
    def merge_into(self, data):
        ids = sorted({r["id"] for r in self.rows})
        upd = data.draw(st.lists(st.sampled_from(ids), max_size=2, unique=True))
        src = []
        for k in upd:
            row = {c: data.draw(_value(t)) for c, t in self.cols.items()}
            row.update(id=k, p=data.draw(st.sampled_from(PARTS)))
            src.append(row)
        src.append(self._row({c: data.draw(_value(t)) for c, t in self.cols.items()
                              if c != "id"} | {"p": data.draw(st.sampled_from(PARTS))}))
        self.wh.merge_into(TABLE, self._frame(src), on=["id"])
        by_id = {r["id"]: self._stored(r) for r in src}
        self.rows = [r for r in self.rows if r["id"] not in by_id] + list(by_id.values())
        self._record()

    @rule(dtype=st.sampled_from(["bigint", "string"]))
    def add_column(self, dtype):
        # a dropped or renamed-away name is re-added first: its old values
        # must stay dead over the files written before
        free = [c for c in self.dropped if c not in self.cols]
        if free:
            name = free[0]
        else:
            self.fresh += 1
            name = f"c{self.fresh}"
        self.wh.add_column(TABLE, name, dtype)
        self.cols[name] = dtype
        for r in self.rows:
            r[name] = None
        self._record()

    @precondition(lambda self: self._droppable())
    @rule(data=st.data())
    def drop_column(self, data):
        name = data.draw(st.sampled_from(self._droppable()))
        self.wh.drop_column(TABLE, name)
        del self.cols[name]
        self.dropped.append(name)
        for r in self.rows:
            del r[name]
        self._record()

    @precondition(lambda self: self._droppable())
    @rule(data=st.data())
    def rename_column(self, data):
        old = data.draw(st.sampled_from(self._droppable()))
        # the target may be a dropped name: files written under it must
        # not lend it their values or their stats
        new = data.draw(st.sampled_from(
            [c for c in self.dropped if c not in self.cols] + [None]
        ))
        if new is None:
            self.fresh += 1
            new = f"r{self.fresh}"
        self.wh.rename_column(TABLE, old, new)
        self.cols = {(new if c == old else c): t for c, t in self.cols.items()}
        self.dropped.append(old)  # a later add_column may re-add the old name
        for r in self.rows:
            r[new] = r.pop(old)
        self._record()

    # ---- invariants ----

    @invariant()
    def reads_match_model(self):
        if not hasattr(self, "wh"):
            return
        self._check(self.wh.read(TABLE), self.cols, self.rows, "read()")
        k = PARTS[len(self.history) % len(PARTS)]
        self._check(
            self.wh.read(TABLE, where=f"p = {k}"), self.cols,
            [r for r in self.rows if r["p"] == k], f"read(where='p = {k}')",
        )
        b_preds = []
        if "b" in self.cols:
            b_preds.append(("b IS NULL", lambda r: r["b"] is None))
        if self.cols.get("b") == "bigint":
            v = INTS[1 + len(self.history) % (len(INTS) - 1)]
            b_preds.append((f"b = {v}", lambda r: r["b"] == v))
        for pred, hit in b_preds:
            self._check(
                self.wh.read(TABLE, where=pred), self.cols,
                [r for r in self.rows if hit(r)], f"read(where='{pred}')",
            )
        if len(self.history) > 1:
            sid, cols, rows = self.history[-2]
            self._check(
                self.wh.read(TABLE, snapshot_id=sid), cols, rows,
                f"read(snapshot_id={sid})",
            )


def test_warehouse_matches_row_model(spark):
    WarehouseModel.spark = spark
    run_state_machine_as_test(
        WarehouseModel,
        settings=settings(
            max_examples=6,
            stateful_step_count=6,
            deadline=None,
            derandomize=True,
            database=None,
            suppress_health_check=list(HealthCheck),
        ),
    )
