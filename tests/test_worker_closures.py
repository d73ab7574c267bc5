"""Worker code ships by value: every package function and class that a
Python worker runs must load, and run, in an interpreter that cannot
import ``stripe_sync_engine_spark`` (``python -I`` from a foreign cwd).

The default tier captures the worker functions in-process and loads them
in such a subprocess; the slow tier drives whole queries from a driver
started outside the repo."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pandas as pd
import pytest
from pyspark import cloudpickle

_RUN = textwrap.dedent(
    """
    import pickle, sys
    obj, args = pickle.loads(sys.stdin.buffer.read())
    if args is not None:
        out = obj(*args)
        out = out if isinstance(out, pd.Series) else pd.concat(list(out))
        print(len(out))
    """
)


def _run_isolated(obj, args, cwd) -> str:
    """Load ``obj`` (and call it on ``args`` unless None) in ``python -I``
    started in ``cwd``; returns its stdout."""
    r = subprocess.run(
        [sys.executable, "-I", "-c", "import pandas as pd\n" + _RUN],
        input=cloudpickle.dumps((obj, args)),
        cwd=cwd,
        capture_output=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr.decode()[-3000:]
    return r.stdout.decode()


class _Captured(Exception):
    pass


def _map_fn(spark, monkeypatch, build):
    """The function ``build()`` hands to ``DataFrame.mapInPandas``."""
    got = []

    def capture(self, func, schema, *a, **k):
        got.append(func)
        raise _Captured

    monkeypatch.setattr(type(spark.range(0)), "mapInPandas", capture)
    with pytest.raises(_Captured):
        build()
    return got[0]


def _docs(spark):
    return spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog sat down")], "doc_id long, text string"
    )


def _ivf_pq_case(spark, monkeypatch):
    from stripe_sync_engine_spark.operators.pq_index import (
        IVF_CODES_SCHEMA,
        IVFPQIndex,
        PQCodebook,
        ivf_pq_topk,
    )

    index = IVFPQIndex(
        cells=((0.0, 0.0), (1.0, 1.0)),
        pq=PQCodebook(m=1, k=2, dim=2, centroids=(((0.0, 0.0), (0.1, 0.1)),)),
    )
    codes = spark.createDataFrame([(1, 0, [0]), (2, 1, [1])], IVF_CODES_SCHEMA)
    fn = _map_fn(spark, monkeypatch, lambda: ivf_pq_topk(codes, index, [(7, [0.0, 0.0])], k=1))
    batch = pd.DataFrame({"vec_id": [1, 2], "cell": [0, 1], "codes": [[0], [1]]})
    return fn, (iter([batch]),)


def _bpe_case(spark, monkeypatch):
    from stripe_sync_engine_spark.functions.bpe import BPETokenizer, encode_documents

    tok = BPETokenizer(merges=(("t", "h"), ("th", "e")))
    fn = _map_fn(spark, monkeypatch, lambda: encode_documents(_docs(spark), tok))
    return fn, (iter([_docs(spark).toPandas()]),)


def _ngram_case(spark, monkeypatch):
    from stripe_sync_engine_spark.functions.ngram_lm import NgramLM, score_documents

    lm = NgramLM(uni={"the": 2, "sat": 2}, bi={("the", "sat"): 1}, total=4, vocab_size=2)
    fn = _map_fn(spark, monkeypatch, lambda: score_documents(_docs(spark), lm))
    return fn, (iter([_docs(spark).toPandas()]),)


def _signature_case(spark, monkeypatch):
    import stripe_sync_engine_spark.sources.webhook as webhook

    got = []

    def capture(*a, **k):
        def deco(fn):
            got.append(fn)
            raise _Captured

        return deco

    monkeypatch.setattr(webhook, "pandas_udf", capture)
    df = spark.createDataFrame([("{}", "t=1,v1=x")], "value string, signature string")
    with pytest.raises(_Captured):
        webhook.with_signature_verified(df, "whsec_x")
    body = "{}"
    header = webhook.sign_header("whsec_x", 1, body)
    return got[0], (pd.Series([body, body, None]), pd.Series([header, "t=1,v1=0", header]))


@pytest.mark.parametrize(
    "case", [_ivf_pq_case, _bpe_case, _ngram_case, _signature_case], ids=lambda c: c.__name__
)
def test_worker_function_runs_without_the_package(spark, monkeypatch, tmp_path, case):
    fn, args = case(spark, monkeypatch)
    assert int(_run_isolated(fn, args, tmp_path)) > 0


def test_signature_udf_body_verifies_in_isolation(spark, monkeypatch, tmp_path):
    """The shipped UDF body runs ``verify_signature`` itself: valid, bad
    and NULL rows come back True/False/False."""
    fn, args = _signature_case(spark, monkeypatch)
    probe = textwrap.dedent(
        """
        import pickle, sys
        fn, args = pickle.loads(sys.stdin.buffer.read())
        print(list(fn(*args)))
        """
    )
    r = subprocess.run(
        [sys.executable, "-I", "-c", probe],
        input=cloudpickle.dumps((fn, args)),
        cwd=tmp_path,
        capture_output=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr.decode()[-3000:]
    assert r.stdout.decode().strip() == "[True, False, False]"


@pytest.mark.parametrize("name", ["StoreDataSource", "ChangesDataSource"])
def test_datasource_class_loads_without_the_package(tmp_path, name):
    import stripe_sync_engine_spark.sources.store_datasource as sd

    _run_isolated(getattr(sd, name), None, tmp_path)


_E2E = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[1])
    import numpy as np
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[1]")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from stripe_sync_engine_spark.functions.bpe import encode_documents, train_bpe
    from stripe_sync_engine_spark.functions.ngram_lm import score_documents, train_ngram_lm
    from stripe_sync_engine_spark.operators.pq_index import (
        adc_topk, encode_ivf_pq, ivf_pq_topk, probe_cells, train_ivf_pq,
    )
    from stripe_sync_engine_spark.storage import TableStore
    from stripe_sync_engine_spark.sync import StripeSparkSync
    from tests import fixtures as fx

    out = {}
    docs = spark.createDataFrame(
        [(i, f"the cat {i % 3} sat on the mat {i % 5}") for i in range(20)],
        "doc_id long, text string",
    )
    tok = train_bpe(docs, vocab_size=40)
    out["bpe"] = sorted(
        (r["doc_id"], r["n_tokens"]) for r in encode_documents(docs, tok).collect()
    )
    out["bpe_driver"] = sorted(
        (r["doc_id"], len(tok.encode(r["text"]))) for r in docs.collect()
    )
    lm = train_ngram_lm(docs, min_count=1)
    out["lm"] = sorted(
        (r["doc_id"], round(r["lm_score"], 9)) for r in score_documents(docs, lm).collect()
    )
    out["lm_driver"] = sorted(
        (r["doc_id"], round(lm.score(r["text"]), 9)) for r in docs.collect()
    )
    vecs = spark.createDataFrame(
        [(i, [float(i % 4), float(i // 4)]) for i in range(16)],
        "vec_id long, embedding array<float>",
    )
    index = train_ivf_pq(vecs, n_cells=2, m=1, k=4)
    codes = encode_ivf_pq(vecs, index)
    q = [(0, [3.0, 3.0])]
    top = ivf_pq_topk(codes, index, q, k=3, nprobe=2).collect()
    out["ivf"] = sorted((r["query_id"], r["vec_id"]) for r in top)
    rows = codes.collect()
    ref = adc_topk(
        index.cells_array(), index.pq.as_array(), q, probe_cells(index, q, 2),
        np.array([r["vec_id"] for r in rows]), np.array([r["cell"] for r in rows]),
        np.array([list(r["codes"]) for r in rows], dtype=np.int64), 3,
    )
    out["ivf_driver"] = sorted(zip(ref["query_id"].tolist(), ref["vec_id"].tolist()))

    eng = StripeSparkSync(spark, TableStore(spark, sys.argv[2]))
    eng.process_webhook_events([
        fx.event("charge.succeeded", fx.charge(id=f"ch_{i}", amount=i * 100), created=1_000)
        for i in range(12)
    ])
    eng.create_views()
    out["view"] = sorted(
        r["id"] for r in spark.sql("SELECT id FROM stripe_charges WHERE amount >= 900").collect()
    )
    print("RESULT " + json.dumps(out))
    """
)


@pytest.mark.slow
def test_foreign_directory_driver_end_to_end(tmp_path):
    """A driver started outside the repo, with the package on the
    driver's ``sys.path`` only, runs the distributed IVF-PQ top-k (Spark
    placement), the BPE encode, the n-gram scorer and a filtered
    ``stripe_*`` view query on ``local[1]``, each with the right result."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", _E2E, repo, str(tmp_path / "wh")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        timeout=900,
    )
    assert r.returncode == 0, r.stderr.decode()[-4000:]
    line = [x for x in r.stdout.decode().splitlines() if x.startswith("RESULT ")][-1]
    out = json.loads(line[len("RESULT ") :])
    assert out["bpe"] == out["bpe_driver"] and len(out["bpe"]) == 20
    assert out["lm"] == out["lm_driver"] and len(out["lm"]) == 20
    assert out["ivf"] == out["ivf_driver"] and len(out["ivf"]) == 3
    assert out["view"] == sorted(f"ch_{i}" for i in (9, 10, 11))
