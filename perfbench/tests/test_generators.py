"""Seed determinism of the query and corpus generators."""

from flame_spark.data import generate_transcripts
from perfbench.querygen import KIND_CYCLE, query_pool


def test_query_pool_is_a_function_of_the_seed():
    assert query_pool(7, 64) == query_pool(7, 64)
    assert query_pool(7, 64) != query_pool(8, 64)


def test_query_pool_shape():
    pool = query_pool(1, 400)
    assert len({q["query_id"] for q in pool}) == 400
    assert [q["kind"] for q in pool[:22]] == list(KIND_CYCLE) * 2
    for q in pool:
        n = len(q["query_text"].split())
        assert 1 <= n <= 8, q
        if q["kind"] == "short":
            assert n <= 2
        else:
            assert n >= 3


def test_oov_queries_hold_an_unseen_token():
    vocab = {
        w for row in generate_transcripts(20, 10, seed=1) for w in row["text"].split()
    }
    for q in query_pool(2, 200):
        if q["kind"] == "oov":
            assert any(w not in vocab for w in q["query_text"].split()), q


def test_corpus_generator_is_a_function_of_the_seed():
    a = generate_transcripts(6, 5, seed=11)
    assert a == generate_transcripts(6, 5, seed=11)
    assert [r["text"] for r in a] != [
        r["text"] for r in generate_transcripts(6, 5, seed=12)
    ]
