"""The generators are a pure function of the seed: same seed, byte-identical
inputs (pinned fingerprints); version timestamps unique per key.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402

SMALL_INGEST = dict(keys=50, versions=3, batches=4, batch_rows=20,
                    backdated=0.3, deleted=0.1)
SMALL_ASOF = dict(dim_keys=40, dim_rows=200, facts=300, slots=8, zipf=1.2,
                  deleted=0.05)
STAR_SF = 0.0002


def ingest(seed):
    initial, batches = gen.ingest_tables(seed, **SMALL_INGEST)
    return {"initial": initial, "batches": batches}


def asof(seed):
    dim, facts = gen.asof_tables(seed, **SMALL_ASOF)
    return {"dim": dim, "facts": facts}


class GeneratorTest(unittest.TestCase):
    PINNED = {
        "ingest": "981ec62b6ce80368c98ecbbb7d7a261f3054d5c6cd716cabfc28e07295320011",
        "asof": "2449cd5f698b6bb91ed43484219420709a4d9d8cb8473f2486929b60b8320abd",
        "star": "77e74e15ba5f079c143d2922dd933d16f00c9ce1a8c286969b019d0214cffd24",
    }

    def fingerprints(self, seed):
        return {"ingest": gen.fingerprint(ingest(seed)),
                "asof": gen.fingerprint(asof(seed)),
                "star": gen.fingerprint(gen.star_tables(seed, STAR_SF))}

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.fingerprints(11), self.fingerprints(11))

    def test_pinned_fingerprints(self):
        self.assertEqual(self.fingerprints(11), self.PINNED)

    def test_parquet_files_byte_identical(self):
        def written(root):
            t = ingest(11)
            gen.write(t["initial"], os.path.join(root, "initial.parquet"))
            gen.write(t["batches"], os.path.join(root, "batches"), partition="batch")
            out = {}
            for d, _, files in os.walk(root):
                for f in files:
                    p = os.path.join(d, f)
                    out[os.path.relpath(p, root)] = open(p, "rb").read()
            return out
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertEqual(written(a), written(b))

    def test_other_seed_other_inputs(self):
        a, b = self.fingerprints(11), self.fingerprints(12)
        for k in a:
            self.assertNotEqual(a[k], b[k], k)

    def test_version_times_unique_per_key(self):
        t = ingest(3)
        keys = np.concatenate([t["initial"]["key"].to_numpy(),
                               t["batches"]["key"].to_numpy()])
        ts = np.concatenate([t["initial"]["_updated_at"].cast("int64").to_numpy(),
                             t["batches"]["_updated_at"].cast("int64").to_numpy()])
        self.assertEqual(len(set(zip(keys, ts))), len(keys))
        d = asof(3)["dim"]
        pairs = set(zip(d["key"].to_numpy(), d["_updated_at"].cast("int64").to_numpy()))
        self.assertEqual(len(pairs), d.num_rows)

    def test_deletes_start_their_version(self):
        t = ingest(5)
        for name in ("initial", "batches"):
            tb = t[name]
            ts = tb["_updated_at"].cast("int64").to_numpy()
            dl = tb["deleted_at"]
            mask = dl.is_valid().to_numpy(zero_copy_only=False)
            self.assertTrue(mask.any())
            self.assertTrue((dl.cast("int64").to_numpy(zero_copy_only=False)[mask]
                             == ts[mask]).all())

    def test_backdated_rows_repeat_their_successor(self):
        # as of each batch's arrival, a back-dated row's change content equals
        # the next row of its key in time (deletes: delete flag only)
        t = ingest(9)
        rows = []
        for name in ("initial", "batches"):
            tb = t[name].to_pydict()
            for i in range(len(tb["key"])):
                rows.append((tb["key"][i], tb["_updated_at"][i],
                             tb.get("batch", [-1] * len(tb["key"]))[i],
                             tb["tier"][i], tb["region"][i],
                             tb["deleted_at"][i] is not None))
        n_initial_slots = SMALL_INGEST["versions"]
        for b in range(SMALL_INGEST["batches"]):
            seen = sorted((r for r in rows if r[2] <= b), key=lambda r: (r[0], r[1]))
            for r, nxt in zip(seen, seen[1:]):
                slot = int(r[1].timestamp()) - gen.BASE_US // 1_000_000
                backdated = r[2] == b and (slot // gen.SLOT_S) % 2 == 1 \
                    and slot // gen.SLOT_S < 2 * (n_initial_slots + b)
                if backdated and nxt[0] == r[0]:
                    self.assertEqual(r[3:], nxt[3:])


if __name__ == "__main__":
    unittest.main()
