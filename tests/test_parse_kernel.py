"""One term list per parsed doc: the Arrow parse kernel against the
layout it replaced.

The parse used to store every term twice per doc: ``terms`` as
(term, tf) and ``capitals`` as (term, cap) over the tokenizer's capital
dict. ``parse._parse_batches`` now writes each term once, as
(term, tf, cap), and keeps in ``capitals`` only the flags of keys that are
not terms. Every per-doc value, the term order (which the glove vector
follows) and the capital state derived from a batch must be what the old
layout gave, and a batch staged in the old layout must still read the same
through ``parse.STAGED_SCHEMA``.
"""

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from search_engine_spark.functions import textproc

UTC = dt.timezone.utc
PAGES = [
    ("http://a.example/1", dt.datetime(2021, 3, 1, 12, 0, tzinfo=UTC),
     "Cans of Élodie visited Zürich. Zürich was cold and zürich was grey"),
    # a null warc_ts
    ("http://a.example/2", None,
     "Nasdaq rallied while Nasdaq gained. Wills and cans were sold"),
    # cleans to nothing: dropped
    ("http://a.example/3", dt.datetime(2021, 3, 2, tzinfo=UTC), "東京 東京"),
    ("http://a.example/4", dt.datetime(2021, 3, 3, 8, 30, tzinfo=UTC),
     "Ärger über Öl. Öl und Öl. Café Müller opened; École école 3 billion"),
    ("http://a.example/5", dt.datetime(2021, 3, 4, tzinfo=UTC),
     "plain lowercase text with #tags and 50% of @people running"),
]
#: the parent's ``parsed`` layout: no ``cap`` in ``terms``, every flag in
#: ``capitals``
OLD_LAYOUT = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("doc_length", pa.int32()), ("max_tf", pa.int32()),
    ("unique_terms", pa.int32()),
    ("terms", pa.list_(pa.struct([("term", pa.string()),
                                  ("tf", pa.int32())]))),
    ("capitals", pa.list_(pa.struct([("term", pa.string()),
                                     ("cap", pa.bool_())]))),
    ("entities", pa.list_(pa.string())),
])
#: the key the monkeypatched parse adds to one doc: a capital flag that is
#: not a term of the doc
EXTRA_KEY = "zzcaponly"


def _pages_batch(pages=PAGES) -> pa.RecordBatch:
    url, ts, text = zip(*pages)
    return pa.RecordBatch.from_arrays(
        [pa.array(url, pa.string()),
         pa.array(ts, pa.timestamp("us", tz="UTC")),
         pa.array(text, pa.string())],
        names=["url", "warc_ts", "text"])


def _stemmer(stemming: bool):
    from search_engine_spark.functions.stemmer import Stemmer

    return Stemmer() if stemming else None


def _old_layout(stemming: bool, parse=None) -> list[dict]:
    """The rows the parent's ``mapInPandas`` kernel wrote, per doc."""
    parse = parse or textproc.parse_web_doc
    stemmer = _stemmer(stemming)
    rows = []
    for url, ts, text in PAGES:
        doc = parse(url, text, stemmer=stemmer)
        if doc is None:
            continue
        rows.append({
            "url": doc.url, "warc_ts": ts, "doc_length": doc.doc_length,
            "max_tf": doc.max_tf, "unique_terms": doc.unique_terms,
            "terms": [{"term": t, "tf": c} for t, c in doc.term_tf.items()],
            "capitals": [{"term": t, "cap": c}
                         for t, c in doc.capitals.items()],
            "entities": sorted(doc.entities),
        })
    return rows


def _with_extra_capital(monkeypatch):
    """Make doc 1 carry a capital flag for a key that is not one of its
    terms, as a stemmed capitalized token that stems to a stop word
    does; returns the patched parse."""
    real = textproc.parse_web_doc

    def parse(url, text, stemmer=None):
        doc = real(url, text, stemmer=stemmer)
        if doc is not None and url.endswith("/1"):
            doc.capitals[EXTRA_KEY] = True
        return doc

    monkeypatch.setattr(textproc, "parse_web_doc", parse)
    return parse


def _kernel(stemming: bool, batches) -> pa.Table:
    from search_engine_spark.operators.parse import _parse_batches

    out = list(_parse_batches(stemming)(iter(batches)))
    return pa.Table.from_batches(out)


@pytest.mark.parametrize("stemming", [False, True])
def test_kernel_matches_old_layout(monkeypatch, stemming):
    parse = _with_extra_capital(monkeypatch)
    old = _old_layout(stemming, parse)
    new = _kernel(stemming, [_pages_batch()]).to_pylist()

    assert [r["url"] for r in new] == [r["url"] for r in old]
    assert "http://a.example/3" not in [r["url"] for r in new]
    only_keys = set()
    for n, o in zip(new, old):
        for col in ("url", "warc_ts", "doc_length", "max_tf",
                    "unique_terms", "entities"):
            assert n[col] == o[col], (n["url"], col)
        # term order unchanged: the glove vector sums in this order
        assert [(t["term"], t["tf"]) for t in n["terms"]] == \
            [(t["term"], t["tf"]) for t in o["terms"]]
        terms = {t["term"] for t in n["terms"]}
        # each flag stored once: on its term, or in capitals if no term
        assert all(c["term"] not in terms for c in n["capitals"])
        flags = [(t["term"], t["cap"]) for t in n["terms"]
                 if t["cap"] is not None]
        flags += [(c["term"], c["cap"]) for c in n["capitals"]]
        assert sorted(flags) == sorted(
            (c["term"], c["cap"]) for c in o["capitals"])
        only_keys |= {c["term"] for c in n["capitals"]}
    assert new[1]["warc_ts"] is None
    # not vacuous: capital-only keys, non-ASCII capitalized terms
    assert EXTRA_KEY in only_keys
    if stemming:
        assert {"can", "will"} <= only_keys  # Cans/Wills stem to stop words
    else:
        caps = {t["term"]: t["cap"] for r in new for t in r["terms"]}
        assert caps["ärger"] is caps["élodie"] is caps["müller"] is True
        assert caps["zürich"] is False and caps["école"] is False
        assert any(t["cap"] is None for r in new for t in r["terms"])


def test_kernel_skips_an_all_dropped_batch():
    from search_engine_spark.operators.parse import _parse_batches

    batch = _pages_batch([PAGES[2], ("http://a.example/6", None, None)])
    assert list(_parse_batches(False)(iter([batch, batch[:0]]))) == []


@pytest.mark.parametrize("stemming", [False, True])
def test_capitals_state_matches_old_layout(spark, tmp_path, monkeypatch,
                                           stemming):
    """``capitals_state`` over the new layout, over an old-layout batch
    read through the explicit schema, and over both mixed, equals the
    parent's explode of ``capitals``, row for row."""
    import pyspark.sql.functions as F

    from search_engine_spark.operators.index_build import capitals_state
    from search_engine_spark.operators.parse import PARSED_SCHEMA

    parse = _with_extra_capital(monkeypatch)
    new_path, old_path = str(tmp_path / "new"), str(tmp_path / "old")
    pq.write_table(_kernel(stemming, [_pages_batch()]),
                   f"{tmp_path}/new.parquet")
    pq.write_table(pa.Table.from_pylist(_old_layout(stemming, parse),
                                        OLD_LAYOUT),
                   f"{tmp_path}/old.parquet")
    new, old = (spark.read.schema(PARSED_SCHEMA).parquet(f"{p}.parquet")
                for p in (new_path, old_path))
    assert old.filter(F.exists("terms", lambda kv: kv["cap"].isNotNull())
                      ).count() == 0

    parent_state = (
        old.select(F.explode("capitals").alias("kv"))
        .select(F.col("kv.term").alias("term"), F.col("kv.cap").alias("cap"))
        .groupBy("term").agg(F.min("cap").alias("always_cap"))
    )
    want = sorted(parent_state.collect())
    assert (EXTRA_KEY, True) in [tuple(r) for r in want]
    for rows in (new, old, new.unionByName(old)):
        assert sorted(capitals_state(rows).collect()) == want


@pytest.mark.parametrize("stemming", [False, True])
def test_spark_parse_matches_old_layout(spark, tmp_path, stemming):
    """Through Spark (``parse_corpus``): the JVM reads the kernel's Arrow
    columns back as the old layout's values, warc_ts (null included)
    unchanged."""
    from search_engine_spark.config import EngineConfig
    from search_engine_spark.operators.parse import parse_corpus

    path = f"{tmp_path}/pages.parquet"
    pq.write_table(pa.Table.from_batches([_pages_batch()]), path)
    pages = spark.read.parquet(path)
    ts = {r["url"]: r["warc_ts"] for r in pages.collect()}
    got = {r["url"]: r for r in parse_corpus(
        pages, EngineConfig(stemming=stemming)).collect()}
    old = _old_layout(stemming)
    assert sorted(got) == sorted(r["url"] for r in old)
    for o in old:
        g = got[o["url"]]
        assert g["warc_ts"] == ts[o["url"]]
        for col in ("doc_length", "max_tf", "unique_terms", "entities"):
            assert g[col] == o[col], (o["url"], col)
        assert [(t["term"], t["tf"]) for t in g["terms"]] == \
            [(t["term"], t["tf"]) for t in o["terms"]]
        flags = {(t["term"], t["cap"]) for t in g["terms"]
                 if t["cap"] is not None}
        flags |= {(c["term"], c["cap"]) for c in g["capitals"]}
        assert flags == {(c["term"], c["cap"]) for c in o["capitals"]}
