"""Self-tests for the benchmark's own logic; no Spark session needed.

    python3 -m unittest perfbench/test_bench.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

import oracle  # noqa: E402

S = 1_000_000
T0 = oracle.JAN_START_US + 3600 * S  # 2024-01-01 01:00


class SilverReplay(unittest.TestCase):
    """Three batches: a duplicate, an in-tolerance straggler, a late row,
    and one row of each invalid kind."""

    def test_three_batches(self):
        a = (1, 7, "click", T0 + 100 * S, 1.5)
        b = (2, 8, "view", T0 + 200 * S, 2.0)            # batch 0 max
        dup = (2, 8, "view", T0 + 200 * S, 2.0)          # redelivered copy
        straggler = (3, 9, "click", T0 + 195 * S, 0.25)  # 5 s behind max
        late = (4, 9, "error", T0 + 150 * S, 3.0)        # 50 s behind
        c = (5, 7, "purchase", T0 + 400 * S, 9.99)       # batch 1 max
        null_user = (6, None, "click", T0 + 300 * S, 1.0)
        negative = (7, 3, "click", T0 + 300 * S, -0.01)
        february = (8, 3, "click", oracle.FEB_START_US + S, 1.0)
        late2 = (9, 1, "view", T0 + 389 * S, 1.0)        # 11 s behind
        ok2 = (10, 1, "view", T0 + 391 * S, 1.0)         # 9 s behind
        batches = [[a, b],
                   [dup, straggler, late, c, null_user, negative, february],
                   [late2, ok2, ok2]]
        kept, n_late = oracle.replay_silver(batches)
        self.assertEqual(sorted(kept), sorted([a, b, straggler, c, ok2]))
        self.assertEqual(n_late, 2)

    def test_first_batch_has_no_watermark(self):
        early = (1, 1, "click", T0, 1.0)
        later = (2, 1, "click", T0 + 3600 * S, 1.0)
        kept, n_late = oracle.replay_silver([[later, early]])
        self.assertEqual(len(kept), 2)
        self.assertEqual(n_late, 0)

    def test_invalid_rows_do_not_advance_the_watermark(self):
        future = (1, 1, "click", oracle.FEB_START_US + 10 * S, 1.0)
        row = (2, 1, "click", T0, 1.0)
        kept, n_late = oracle.replay_silver([[future], [row]])
        self.assertEqual(kept, [row])
        self.assertEqual(n_late, 0)


class CdcReplay(unittest.TestCase):
    def test_merge_semantics(self):
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        con.execute("CREATE TABLE t (event_id BIGINT, user_id BIGINT, "
                    "event_type VARCHAR, event_ts TIMESTAMPTZ, value DOUBLE, "
                    "event_date DATE)")
        con.execute("INSERT INTO t VALUES "
                    "(1, 10, 'click', '2024-01-30 01:00:00', 1.0, '2024-01-30'),"
                    "(2, 20, 'view', '2024-01-30 02:00:00', 2.0, '2024-01-30'),"
                    "(3, 30, 'error', '2024-01-31 03:00:00', 3.0, '2024-01-31')")
        cdc = ("SELECT * FROM (VALUES "
               "(1, 11, 'purchase', TIMESTAMPTZ '2024-01-30 05:00:00', 1.5, "
               " DATE '2024-01-30', 'U'),"   # update
               "(2, 0, 'view', TIMESTAMPTZ '2024-01-30 00:00:00', 0.0, "
               " DATE '2024-01-30', 'D'),"   # delete
               "(4, 40, 'signup', TIMESTAMPTZ '2024-01-31 04:00:00', 4.0, "
               " DATE '2024-01-31', 'I'),"   # insert
               "(3, 31, 'error', TIMESTAMPTZ '2024-01-29 03:00:00', 9.0, "
               " DATE '2024-01-29', 'U'),"   # other date: no match, ignored
               "(5, 50, 'click', TIMESTAMPTZ '2024-01-31 05:00:00', 5.0, "
               " DATE '2024-01-31', 'D')"    # delete of a missing key
               ") s(event_id, user_id, event_type, event_ts, value, "
               "event_date, op)")
        oracle.apply_cdc(con, cdc)
        got = con.execute("SELECT event_id, user_id, event_type, value, "
                          "CAST(event_date AS VARCHAR) FROM t "
                          "ORDER BY event_id").fetchall()
        self.assertEqual(got, [(1, 11, "purchase", 1.5, "2024-01-30"),
                               (3, 30, "error", 3.0, "2024-01-31"),
                               (4, 40, "signup", 4.0, "2024-01-31")])
        # an 'I' row whose key already exists updates it; a second 'I' of
        # a live key does not duplicate it
        oracle.apply_cdc(con, "SELECT * FROM (VALUES "
                         "(1, 12, 'view', TIMESTAMPTZ '2024-01-30 06:00:00', "
                         " 7.0, DATE '2024-01-30', 'I'),"
                         "(4, 41, 'signup', TIMESTAMPTZ '2024-01-31 04:00:00', "
                         " 4.0, DATE '2024-01-31', 'I')"
                         ") s(event_id, user_id, event_type, event_ts, value, "
                         "event_date, op)")
        self.assertEqual(con.execute("SELECT event_id, user_id, value FROM t "
                                     "ORDER BY event_id").fetchall(),
                         [(1, 12, 7.0), (3, 30, 3.0), (4, 41, 4.0)])


if __name__ == "__main__":
    unittest.main()
