"""Seeded request generation: query shapes over df bands of the index's
own term dictionary, drawn Zipf-weighted inside each band.

The repository holds no record of real query traffic, so the mix is an
unverified assumption: every shape is drawn with the same weight, and the
Zipf exponent inside a band is the one the fixture generator uses for its
vocabulary."""

from __future__ import annotations

import glob
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as papq

#: query shapes, drawn with equal weight
SHAPES = (
    "term_rare", "term_mid", "term_heavy", "or", "and", "not",
    "prefix", "phrase", "fuzzy", "conversations",
)
#: Zipf exponent of term draws by df rank inside a band: that of the tail
#: vocabulary in ``sources.fixtures.make_transcripts``
ZIPF_S = 1.07

# plain lowercase words only: the fixture vocabulary also holds dotted
# versions and apostrophes, which are query-syntax edge cases, not load
_WORD = re.compile(r"^[a-z]{4,}$")


class QueryGen:
    """Draws (shape, query, k, mode) requests from rare/mid/heavy df bands
    of an index's ``term_dict``."""

    def __init__(self, index_dir: str, rng: np.random.Generator):
        files = sorted(glob.glob(os.path.join(index_dir, "term_dict", "*.parquet")))
        tbl = pa.concat_tables([papq.read_table(f, columns=["term", "df"]) for f in files])
        df = tbl.to_pandas().groupby("term")["df"].sum()
        df = df[[bool(_WORD.match(t)) for t in df.index]].sort_values(ascending=False)
        terms = df.index.to_numpy(dtype=object)
        n = terms.size
        self.rng = rng
        # heavy = the top 20 (the fixture's high-frequency set); the rest
        # split in half into mid and rare, each ordered by df descending
        self.bands = {
            "heavy": terms[:20],
            "mid": terms[20 : 20 + (n - 20) // 2],
            "rare": terms[20 + (n - 20) // 2 :],
        }
        self._p = {}
        for b, ts in self.bands.items():
            w = 1.0 / np.arange(1, ts.size + 1) ** ZIPF_S
            self._p[b] = w / w.sum()

    def term(self, band: str) -> str:
        ts = self.bands[band]
        return str(ts[self.rng.choice(ts.size, p=self._p[band])])

    def make(self, shape: str) -> tuple[str, str, int, str]:
        t = self.term
        mode = "turns"
        if shape.startswith("term_"):
            q = t(shape[5:])
        elif shape == "or":
            q = " ".join([t("rare"), t("mid")] + [t("heavy")] * int(self.rng.integers(0, 2)))
        elif shape == "and":
            q = f"{t('mid')} AND {t('heavy')}"
        elif shape == "not":
            q = f"{t('heavy')} -{t('mid')}"
        elif shape == "prefix":
            q = t("mid")[:3] + "*"
        elif shape == "phrase":
            q = f'"{t("heavy")} {t("mid")}"'
        elif shape == "fuzzy":
            q = t("mid") + "~1"
        elif shape == "conversations":
            q = f"{t('rare')} {t('mid')}"
            mode = "conversations"
        else:
            raise ValueError(f"unknown shape {shape}")
        return shape, q, 10, mode

    def draw(self) -> tuple[str, str, int, str]:
        return self.make(SHAPES[self.rng.integers(len(SHAPES))])

    def one_per_shape(self) -> list[tuple[str, str, int, str]]:
        return [self.make(s) for s in SHAPES]
