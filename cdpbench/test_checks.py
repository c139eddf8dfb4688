"""Each output check passes on a correct output and fails on a corrupted one.

    python3 -m unittest discover -s cdpbench -p 'test_*.py'

Needs no engine and no JVM: the "correct" outputs are computed here from
a small generated stream and small frames, then corrupted one way each.
"""
import shutil
import tempfile
import unittest

import pandas as pd

import checks
import gen


class QueryCheckTest(unittest.TestCase):
    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})

    def test_same_rows_in_another_order_and_column_order_pass(self):
        got = self.oracle[["v", "k"]].iloc[::-1]
        self.assertIsNone(checks.compare_frames(got, self.oracle))

    def test_changed_value_fails(self):
        got = self.oracle.copy()
        got.loc[1, "v"] = 1.25
        self.assertIn("col v", checks.compare_frames(got, self.oracle))

    def test_missing_row_fails(self):
        self.assertIn("rows", checks.compare_frames(self.oracle.iloc[:2], self.oracle))

    def test_renamed_column_fails(self):
        got = self.oracle.rename(columns={"v": "w"})
        self.assertIn("columns", checks.compare_frames(got, self.oracle))


class StreamCheckTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.dir = tempfile.mkdtemp()
        gen.stream(cls.dir, 9, 3, 60)
        cls.batches = checks.read_batches(cls.dir, 3)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.dir)

    def tracks(self):
        return checks.expected_tracks(self.batches).reset_index(drop=True)

    def mappings(self):
        comp = checks.expected_components(self.batches)
        return pd.DataFrame({"node": list(comp), "comp": list(comp.values())})

    def schema(self):
        """A typed table and discards that satisfy the landing rule: every
        leaf typed, except `qty` leaves whose value is a string."""
        rows, dropped = [], []
        for rid, js in zip(self.batches["row_id"], self.batches["props"]):
            row = {"id": rid}
            for key in checks.leaves(js):
                if key == "qty" and '"qty": "' in js:
                    dropped.append({"row_id": rid, "column_name": key})
                else:
                    row[key] = "x"
            rows.append(row)
        return pd.DataFrame(rows), pd.DataFrame(dropped, columns=["row_id", "column_name"])

    def test_correct_outputs_pass(self):
        typed, discards = self.schema()
        self.assertEqual(checks.check_tracks(self.batches, self.tracks()), [])
        self.assertEqual(checks.check_mappings(self.batches, self.mappings()), [])
        self.assertEqual(checks.check_schema(self.batches, typed, discards), [])

    def test_stream_has_redeliveries_and_discards(self):
        self.assertLess(self.batches["message_id"].nunique(), len(self.batches))
        self.assertGreater(len(self.schema()[1]), 0)

    def test_older_delivery_in_tracks_fails(self):
        dup = self.batches[self.batches["message_id"].duplicated(keep=False)]
        first = dup.sort_values("received_at").iloc[0]
        t = self.tracks()
        i = t.index[t["id"] == first["message_id"]][0]
        t.loc[i, "value"] = first["value"]
        t.loc[i, "received_at"] = first["received_at"]
        self.assertTrue(checks.check_tracks(self.batches, t))

    def test_duplicate_message_row_in_tracks_fails(self):
        t = self.tracks()
        self.assertTrue(checks.check_tracks(self.batches, pd.concat([t, t.iloc[:1]])))

    def test_wrong_component_fails(self):
        m = self.mappings()
        i = m.index[m["node"] != m["comp"]][0]
        m.loc[i, "comp"] = m.loc[i, "node"]
        self.assertTrue(checks.check_mappings(self.batches, m))

    def test_missing_node_fails(self):
        self.assertTrue(checks.check_mappings(self.batches, self.mappings().iloc[1:]))

    def test_lost_leaf_fails(self):
        typed, discards = self.schema()
        typed.loc[0, "plan"] = None
        self.assertTrue(checks.check_schema(self.batches, typed, discards))

    def test_leaf_both_typed_and_discarded_fails(self):
        typed, discards = self.schema()
        extra = pd.DataFrame([{"row_id": typed.loc[0, "id"], "column_name": "plan"}])
        self.assertTrue(checks.check_schema(self.batches, typed, pd.concat([discards, extra])))


if __name__ == "__main__":
    unittest.main()
