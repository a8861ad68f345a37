"""Generate the committed WordCount parity corpus
(myhadoop_spark/data/wordcount/combined_*), the engine's stand-in for
the reference's ``fs/input/wordcount/<volume>/combined_*`` inputs:
plain text files, pre-lowercased and whitespace-tokenised, so
``str.split()``, Spark's reference tokenizer and DuckDB's
``string_split_regex(content, '\\s+')`` all see the same words.

Seeded and stdlib-only: the same seed writes byte-identical files
(tests/test_wordcount_parity.py checks the committed copy). Word
frequencies follow a Zipf law over a synthetic syllable vocabulary.

    python scripts/gen_wordcount_corpus.py
"""

from __future__ import annotations

import random
from itertools import accumulate
from pathlib import Path

CORPUS_DIR = (Path(__file__).resolve().parent.parent
              / "myhadoop_spark" / "data" / "wordcount")
SEED, FILES, LINES, VOCAB = 512, 4, 300, 1500
SYLLABLES = ("ka to ri me su na lo pe vi da ne mu sa ti ro ga be "
             "zu fi ho ju ky la wo").split()


def corpus_files(seed: int = SEED) -> dict[str, str]:
    """{file name: text} of the corpus for ``seed``."""
    rng = random.Random(seed)
    vocab: list[str] = []
    seen: set[str] = set()
    while len(vocab) < VOCAB:
        word = "".join(rng.choice(SYLLABLES)
                       for _ in range(rng.randint(1, 4)))
        if word not in seen:
            seen.add(word)
            vocab.append(word)
    cum = list(accumulate(1.0 / (rank + 1) ** 1.1
                          for rank in range(VOCAB)))
    files = {}
    for f in range(FILES):
        lines = [" ".join(rng.choices(vocab, cum_weights=cum,
                                      k=rng.randint(4, 16)))
                 for _ in range(LINES)]
        files[f"combined_{f}"] = "\n".join(lines) + "\n"
    return files


def main() -> None:
    CORPUS_DIR.mkdir(parents=True, exist_ok=True)
    for name, text in corpus_files().items():
        (CORPUS_DIR / name).write_text(text, encoding="utf-8")
    print(f"wrote {len(corpus_files())} files to {CORPUS_DIR}")


if __name__ == "__main__":
    main()
