"""The driver-collect size gate and the session cache (logparse_rs_spark.gate)
as the fast paths in dedup, graph and similarity use them."""

import collections
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from logparse_rs_spark import gate


def _gates(what):
    return [r for r in gate.RECORD
            if r["event"] == "gate" and r["what"] == what]


def _returned_bytes(result) -> int:
    """Driver bytes held by a collect()/toPandas() result: string length
    for text cells, 8 for any other cell."""
    if isinstance(result, pd.DataFrame):
        cells = (v for col in result.columns for v in result[col].tolist())
    else:
        cells = (v for row in result for v in row)
    return sum(len(v) if isinstance(v, str) else 8 for v in cells)


class TestHugeTailCorpus:
    def test_no_collect_exceeds_budget(self, spark, monkeypatch):
        # the first 1000 rows are short, so a sample of them predicts a
        # small corpus; three 120 KB texts at the end push it past the
        # budget. Sizing must be exact, before any text reaches the driver
        from logparse_rs_spark.operators.dedup import ngram_jaccard_pairs_fast
        budget = 256 << 10
        monkeypatch.setattr(gate, "BUDGET_BYTES", budget)
        rows = [(i, f"short doc {i}") for i in range(1000)]
        rows += [(1000 + i, ("tail%d " % i) * 20_000) for i in range(3)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = spark.createDataFrame([(1, 2), (1000, 1001)],
                                      "id_a long, id_b long")
        largest = []
        for name in ("collect", "toPandas"):
            orig = getattr(ClassicDataFrame, name)

            def wrapped(self, _orig=orig):
                out = _orig(self)
                largest.append(_returned_bytes(out))
                return out
            monkeypatch.setattr(ClassicDataFrame, name, wrapped)
        out = ngram_jaccard_pairs_fast(docs, pairs, n=3)
        assert largest and max(largest) <= budget
        monkeypatch.undo()
        decision = _gates("pair_verify_texts")[-1]
        assert decision["admitted"] is False and decision["rows"] == 1003
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
        assert got[(1000, 1001)] < 1.0 and set(got) == {(1, 2), (1000, 1001)}


class TestStringIds:
    ROWS = [("d1", "the quick brown fox jumps over the lazy dog"),
            ("d2", "quick brown fox"),
            ("d3", "the quick brown fox jumps over the lazy cat"),
            ("d4", "")]
    PAIRS = [("d1", "d2"), ("d1", "d3"), ("d2", "d3"), ("d1", "d4")]

    @pytest.mark.parametrize("op", ["ngram_jaccard_pairs_fast",
                                    "ngram_overlap_pairs_fast",
                                    "containment_pairs"])
    def test_string_ids_equal_join_plan(self, spark, monkeypatch, op):
        from logparse_rs_spark.operators import dedup
        fn = getattr(dedup, op)
        docs = spark.createDataFrame(self.ROWS, "doc_id string, text string")
        pairs = spark.createDataFrame(self.PAIRS, "id_a string, id_b string")
        got = sorted(map(tuple, fn(docs, pairs).collect()))
        assert _gates("pair_verify_texts")[-1]["reason"] == "id type"
        monkeypatch.setattr(gate, "BUDGET_BYTES", 0)
        join_plan = sorted(map(tuple, fn(docs, pairs).collect()))
        assert got == join_plan and got
        # the same corpus under integer ids takes the broadcast path
        # and scores identically
        monkeypatch.undo()
        num = {f"d{i}": i for i in range(1, 5)}
        idocs = spark.createDataFrame([(num[i], t) for i, t in self.ROWS],
                                      "doc_id long, text string")
        ipairs = spark.createDataFrame([(num[a], num[b])
                                        for a, b in self.PAIRS],
                                       "id_a long, id_b long")
        fast = sorted(map(tuple, fn(idocs, ipairs).collect()))
        assert _gates("pair_verify_texts")[-1]["admitted"] is True
        assert fast == [(num[r[0]], num[r[1]]) + r[2:] for r in got]


class TestComponentsAlgorithm:
    def test_bogus_algorithm_raises_on_every_size(self, spark, monkeypatch):
        from logparse_rs_spark.operators.graph import connected_components
        df = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
        with pytest.raises(ValueError, match="bogus"):
            connected_components(df, algorithm="bogus")
        monkeypatch.setattr(gate, "BUDGET_BYTES", 0)
        with pytest.raises(ValueError, match="bogus"):
            connected_components(df, algorithm="bogus")


class TestNeardupMargin:
    def test_dim_3072_broadcast_equals_banded(self, spark, monkeypatch):
        # pairs planted just above the threshold at a width where the
        # f32 rounding bound (~dim * 2^-24) approaches a fixed 1e-3 margin
        from logparse_rs_spark.operators.similarity import neardup_pairs
        dim, threshold = 3072, 0.9
        rng = np.random.RandomState(3)
        vecs = []
        for _ in range(6):
            u = rng.randn(dim)
            u /= np.linalg.norm(u)
            w = rng.randn(dim)
            w -= (w @ u) * u
            w /= np.linalg.norm(w)
            c = threshold + 2e-6
            vecs += [u, c * u + np.sqrt(1 - c * c) * w]
        vecs += list(rng.randn(8, dim))
        vecs = [v.astype(np.float32) for v in vecs]
        planted = set()
        for k in range(0, 12, 2):
            a, b = vecs[k].astype(np.float64), vecs[k + 1].astype(np.float64)
            cos = a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
            assert threshold <= cos < threshold + 1e-5
            planted.add((k, k + 1))
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>")
        bcast = sorted(map(tuple, neardup_pairs(
            df, dim, threshold=threshold).collect()))
        assert _gates("neardup_pairs")[-1]["admitted"] is True
        monkeypatch.setattr(gate, "BUDGET_BYTES", 0)
        banded = sorted(map(tuple, neardup_pairs(
            df, dim, threshold=threshold).collect()))
        assert _gates("neardup_pairs")[-1]["admitted"] is False
        assert bcast == banded
        assert planted <= {(a, b) for a, b, _ in bcast}


class TestSessionFrame:
    def test_eviction_unpersists_and_destroys(self, spark, monkeypatch):
        monkeypatch.setattr(gate, "_FRAMES", collections.OrderedDict())
        monkeypatch.setattr(gate, "SESSION_SLOTS", 1)
        frame = gate.session_frame(spark, "frame",
                                   lambda: spark.range(10).persist())
        assert frame.count() == 10 and frame.is_cached
        assert gate.session_frame(spark, "frame", lambda: None) is frame
        bc = gate.session_frame(spark, "bcast",
                                lambda: spark.sparkContext.broadcast([1]))
        assert not frame.is_cached
        gate.session_frame(spark, "other", lambda: None)
        assert not bc._jbroadcast.isValid()
        assert not os.path.exists(bc._path)
        events = [(r["event"], r["key"]) for r in list(gate.RECORD)[-6:]]
        assert events == [("build", "frame"), ("hit", "frame"),
                          ("build", "bcast"), ("evict", "frame"),
                          ("build", "other"), ("evict", "bcast")]
