"""Reference-semantics parity (SURVEY.md §5.2): WordCount through the
engine vs a pure-Python oracle implementing the reference map/reduce
path exactly (/root/reference/datanode.py:598-607 tokenize+map,
utilities.py:170-185 fold, app.py:6-14 WordCount)."""

from __future__ import annotations

import importlib.util
from collections import Counter
from pathlib import Path

import pytest

from myhadoop_spark.mapreduce import run_wordcount_fast, wordcount_job
from myhadoop_spark.queries import reference_parity

REF_CORPUS = Path(reference_parity.REF_CORPUS)


def python_reference_wordcount(files: list[Path]) -> dict[str, int]:
    """Line → str.split() tokens → (word, 1) → fold with + (the reference
    semantics, reimplemented independently as the test oracle)."""
    counts: Counter[str] = Counter()
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                for word in line.split():
                    counts[word] += 1
    return dict(counts)


@pytest.fixture(scope="module")
def corpus_slice(tmp_path_factory):
    """Two files of the parity corpus, copied so the test input dir
    contains only the slice."""
    dst = tmp_path_factory.mktemp("wc_corpus")
    picked = sorted(REF_CORPUS.iterdir())[:2]
    for p in picked:
        (dst / p.name).write_bytes(p.read_bytes())
    return dst, picked


def test_dataframe_wordcount_matches_reference(spark, corpus_slice):
    dst, picked = corpus_slice
    expected = python_reference_wordcount(picked)
    got = {r["word"]: r["cnt"]
           for r in run_wordcount_fast(spark, str(dst)).collect()}
    assert got == expected


def test_mapreduce_job_api_matches_reference(spark, corpus_slice):
    dst, picked = corpus_slice
    expected = python_reference_wordcount(picked)
    job = wordcount_job()
    got = {r["key"]: r["value"]
           for r in job.run_on_text_dir(spark, str(dst)).collect()}
    assert got == expected


def test_committed_corpus_is_the_seeded_generator_output():
    spec = importlib.util.spec_from_file_location(
        "gen_wordcount_corpus",
        Path(__file__).resolve().parent.parent / "scripts"
        / "gen_wordcount_corpus.py")
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    want = gen.corpus_files()
    got = {p.name: p.read_text(encoding="utf-8")
           for p in sorted(REF_CORPUS.iterdir())}
    assert got == want
    # pre-lowercased and whitespace-tokenised, as the reference inputs
    text = "".join(want.values())
    assert text == text.lower() and all(
        w.isalpha() for w in text.split())
