"""The benchmark's own test: each correctness check accepts a correct output
and fails on a corrupted one.

Run from the repository root: python3 -m unittest perfbench/test_checks.py
(no JVM needed; correct outputs are built here in pandas).
"""
import os
import shutil
import sys
import tempfile
import unittest

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import checks  # noqa: E402
import datagen  # noqa: E402


def _write_df(df, d):
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), os.path.join(d, "part-0.parquet"))


class QueryOracleCheck(unittest.TestCase):
    def setUp(self):
        os.makedirs(build.build_dir(), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=build.build_dir())
        self.con = checks.connect(self.tmp)
        self.con.sql("CREATE TABLE t AS SELECT range AS k, range * 1.5 AS v, 'x' || range AS s FROM range(50)")
        self.sql = "SELECT k, v, s FROM t ORDER BY k"
        self.good = self.con.sql(self.sql).df()
        self.out = os.path.join(self.tmp, "q")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_exact_result_passes(self):
        _write_df(self.good.sample(frac=1.0, random_state=3), self.out)  # row order is free
        self.assertIsNone(checks.check_query(self.con, self.sql, self.out))

    def test_dropped_row_fails(self):
        _write_df(self.good.drop(index=7), self.out)
        self.assertIsNotNone(checks.check_query(self.con, self.sql, self.out))

    def test_altered_cell_fails(self):
        bad = self.good.copy()
        bad.loc[11, "v"] = bad.loc[11, "v"] + 0.01
        _write_df(bad, self.out)
        self.assertIsNotNone(checks.check_query(self.con, self.sql, self.out))

    def test_missing_result_fails(self):
        self.assertIsNotNone(checks.check_query(self.con, self.sql, self.out))


class IncrementalLoadCheck(unittest.TestCase):
    """Outputs of a correct load are built from the landing files the way the
    pipeline defines them; corruptions model a skipped or duplicated batch."""
    N_CUST = 60

    def setUp(self):
        os.makedirs(build.build_dir(), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=build.build_dir())
        self.data = os.path.join(self.tmp, "data")
        self.meta = datagen.landing_batches(os.path.join(self.data, "landing"), 5, 300, 3, 80, 0.5,
                                            self.N_CUST)
        self.orders = [self._read("orders", k) for k in range(len(self.meta))]
        self.changes = [self._read("customers", k) for k in range(len(self.meta))]

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def _read(self, kind, k):
        df = pd.read_parquet(os.path.join(self.data, "landing", kind, f"batch_{k}.parquet"))
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = df[c].dt.tz_localize(None)  # Spark writes session-UTC timestamps
        return df

    def _outputs(self, order, work):
        """Write target, log and SCD2 dimension for batches applied in `order`;
        returns the per-batch extracted counts."""
        landed, extracted, log, wm = [], [], [], None
        state, versions = {}, []
        t = pd.Timestamp("2030-01-01")
        for i, k in enumerate(order):
            batch = self.orders[k]
            new = batch if wm is None else batch[batch.updated_at > wm]
            n = len(new)
            extracted.append(n)
            if n:
                landed.append(new)
                wm = max(wm, new.updated_at.max()) if wm is not None else new.updated_at.max()
            log.append({"starttime": t + pd.Timedelta(seconds=2 * i),
                        "endtime": t + pd.Timedelta(seconds=2 * i + 1),
                        "status": "success" if n else "skipped_no_new_data",
                        "saved_count": n, "lastextractdatetime": wm})
            ch = self.changes[k]
            eff = ch.change_ts.max()
            for _, r in ch.sort_values("change_ts").groupby("c_custkey").tail(1).iterrows():
                attrs = (r.c_nationkey, r.c_mktsegment)
                cur = state.get(r.c_custkey)
                if cur is None or cur[0] != attrs:
                    if cur is not None:
                        versions.append((r.c_custkey, *cur[0], cur[1], eff, False))
                    state[r.c_custkey] = (attrs, eff)
        versions += [(key, *a, vf, pd.NaT, True) for key, (a, vf) in state.items()]
        allrows = pd.concat(landed)
        target = allrows.sort_values("updated_at").groupby("o_orderkey").tail(1)
        _write_df(target, os.path.join(work, "target"))
        _write_df(pd.DataFrame(log), os.path.join(work, "etl_log"))
        dim = pd.DataFrame(versions, columns=["c_custkey", "c_nationkey", "c_mktsegment",
                                              "valid_from", "valid_to", "is_current"])
        _write_df(dim, os.path.join(work, "dim_customer"))
        return extracted

    def _check(self, order, corrupt=None, **steps_ok):
        work = os.path.join(self.tmp, "work")
        extracted = self._outputs(order, work)
        if corrupt:
            corrupt(work)
        return checks.check_incremental(self.data, work, self.meta, extracted, **steps_ok)

    def test_correct_load_passes(self):
        self.assertEqual(self._check(list(range(len(self.meta)))), [])

    def test_skipped_batch_fails(self):
        errs = self._check([0, 1, 3])
        self.assertTrue(any("extracted" in e for e in errs))
        self.assertTrue(any("target" in e for e in errs))
        self.assertTrue(any("etl log" in e for e in errs))
        self.assertTrue(any("current attributes" in e for e in errs))

    def test_duplicated_batch_fails(self):
        errs = self._check([0, 1, 2, 2, 3])
        self.assertTrue(any("extracted" in e for e in errs))
        self.assertTrue(any("etl log" in e for e in errs))

    def test_dropped_target_row_fails(self):
        def drop(work):
            df = pd.read_parquet(os.path.join(work, "target"))
            _write_df(df.iloc[1:], os.path.join(work, "target"))
        self.assertTrue(any("target" in e for e in self._check([0, 1, 2, 3], drop)))

    def _dim_check(self, corrupt, **steps_ok):
        """Errors of a correct load whose SCD2 dimension `corrupt(df)` altered."""
        def apply(work):
            d = os.path.join(work, "dim_customer")
            _write_df(corrupt(pd.read_parquet(d)), d)
        return self._check([0, 1, 2, 3], apply, **steps_ok)

    def _assert_only(self, errs, message):
        self.assertEqual(len(errs), 1, errs)
        self.assertIn(message, errs[0])

    def test_no_current_version_fails(self):
        def close(df):
            df.loc[df.index[df.is_current][0], "is_current"] = False
            return df
        self.assertTrue(any("without exactly one current row" in e for e in self._dim_check(close)))

    def test_two_current_versions_fail(self):
        def reopen(df):
            df.loc[df.index[~df.is_current][0], "is_current"] = True
            return df
        self.assertTrue(any("without exactly one current row" in e for e in self._dim_check(reopen)))

    def test_missing_key_fails(self):
        def drop_key(df):
            return df[df.c_custkey != df.c_custkey.iloc[0]]
        self.assertTrue(any("keys differ" in e for e in self._dim_check(drop_key)))

    def test_extra_key_fails(self):
        def add_key(df):
            row = df[df.is_current].iloc[[0]].copy()
            row["c_custkey"] = df.c_custkey.max() + 1
            return pd.concat([df, row], ignore_index=True)
        self.assertTrue(any("keys differ" in e for e in self._dim_check(add_key)))

    def test_interval_gap_fails(self):
        def gap(df):
            closed = df.index[~df.is_current][0]
            df.loc[closed, "valid_to"] -= pd.Timedelta(seconds=1)
            return df
        self._assert_only(self._dim_check(gap), "break the interval chain")

    def test_interval_overlap_fails(self):
        def overlap(df):
            closed = df.index[~df.is_current][0]
            df.loc[closed, "valid_to"] += pd.Timedelta(seconds=1)
            return df
        self._assert_only(self._dim_check(overlap), "break the interval chain")

    def test_version_off_batch_time_fails(self):
        def shift(df):
            # a key with one version only: its start has no predecessor to chain to
            single = df.groupby("c_custkey").c_custkey.transform("size") == 1
            df.loc[df.index[single][0], "valid_from"] += pd.Timedelta(seconds=1)
            return df
        self._assert_only(self._dim_check(shift), "no batch's effective time")

    def test_changed_current_attribute_fails(self):
        def alter(df):
            cur = df.index[df.is_current][0]
            df.loc[cur, "c_mktsegment"] = df.loc[cur, "c_mktsegment"] + "X"
            return df
        self._assert_only(self._dim_check(alter), "current attributes")

    def test_failed_load_step_still_checks_dimension(self):
        def alter(df):
            cur = df.index[df.is_current][0]
            df.loc[cur, "c_mktsegment"] = df.loc[cur, "c_mktsegment"] + "X"
            return df
        # the skipped batch's target and log go unchecked; the dimension does not
        self._assert_only(self._check([0, 1, 3], loaded=False), "current attributes")
        self._assert_only(self._dim_check(alter, loaded=False), "current attributes")

    def test_failed_scd2_step_still_checks_load(self):
        errs = self._check([0, 1, 3], dimensioned=False)
        self.assertTrue(any("target" in e for e in errs))
        self.assertFalse(any("scd2" in e for e in errs))


if __name__ == "__main__":
    unittest.main()
