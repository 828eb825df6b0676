"""The index-build check fails for a wrong index, not only for wrong stats."""

from perfbench import inputs, reference


def test_index_check_reads_back_postings_vocab_and_stats(spark, tmp_path):
    from projet_data_engineering_spark.operators.search import build_search_index

    data, path = str(tmp_path / "data"), str(tmp_path / "bm25")
    inputs.generate_tables(data, 0.002, 5)
    corpus = reference.Corpus(f"{data}/documents.parquet")
    docs = spark.read.parquet(f"{data}/documents.parquet")
    build_search_index(docs, "doc_id", "text", path)
    index = reference.read_bm25_index(path)
    assert corpus.same_index(index)

    term, doc, dl, tf, bucket = next(iter(index["postings"]))
    for wrong in (
        (term, doc, dl, tf + 1, bucket),  # term frequency
        (term, doc, dl + 1, tf, bucket),  # doc length
        (term, doc, dl, tf, bucket + 1),  # bucket the serve path prunes to
    ):
        bad = dict(index, postings=index["postings"] - {(term, doc, dl, tf, bucket)} | {wrong})
        assert not corpus.same_index(bad)
    assert not corpus.same_index(dict(index, vocab=index["vocab"] - {(term, bucket)}))
    assert not corpus.same_index(dict(index, stats=dict(index["stats"], n_docs=0)))
