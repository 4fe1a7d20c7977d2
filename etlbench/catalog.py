"""Seeded model-catalog generator for the ETL benchmark.

Everything the program sees is produced here from one seed: the
property→range schema table, a full-catalog landing file, and the
landing file of every later refresh. The generator also keeps the
expectations the output checks need (malformed line counts, the set of
models that exist after each refresh).

Shape of the catalog (chosen so every transform branch does real work):

- Zipf fan-in on licenses, datasets, authors and keywords, so minted
  side entities are shared by many models and dedup matters;
- an OpenML-like share of models carrying ``DatasetObject`` and
  ``EvaluationObject`` JSON, which only ``mint_nested_entities`` handles;
- description text drawn Zipf-skewed from a fixed vocabulary, so BM25
  has common and rare terms;
- refreshes re-extract a recency-biased share of the catalog, of which
  a fixed fraction comes back changed, plus a fraction of new models;
- a known number of malformed JSONL lines per landing file.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import os
import random
from dataclasses import dataclass, field

MODEL_FIELDS = (
    "subject",
    "name",
    "url",
    "description",
    "date_created",
    "date_modified",
    "downloads",
    "library",
    "license",
    "trained_on",
    "author",
    "keyword",
    "evaluation",
    "dataset_object",
)

# property → schema Range, the FAIR4ML config table range_dispatch and
# the minting operators join against.
PROPERTY_RANGES = (
    ("name", "Text"),
    ("url", "URL"),
    ("description", "Text"),
    ("date_created", "Date"),
    ("date_modified", "Date"),
    ("downloads", "Number"),
    ("library", "Text"),
    ("license", "CreativeWork"),
    ("trained_on", "Dataset"),
    ("author", "Person"),
    ("keyword", "DefinedTerm"),
    ("evaluation", "EvaluationObject"),
    ("dataset_object", "DatasetObject"),
)
PLAIN_PROPERTIES = tuple(p for p, r in PROPERTY_RANGES if r in ("Text", "URL", "Date", "Number"))
ENTITY_PROPERTIES = tuple(
    p for p, r in PROPERTY_RANGES if r in ("CreativeWork", "Dataset", "Person", "DefinedTerm")
)
VALUE_COLUMNS = tuple(p for p, _ in PROPERTY_RANGES)

SUBJECT_PREFIX = "https://huggingface.co/"
OPENML_PREFIX = "https://openml.org/m/"
LIBRARIES = ("transformers", "pytorch", "keras", "sklearn", "jax", "onnx", "timm", "diffusers")
_SYLLABLES = (
    "ber", "ro", "gpt", "lla", "ma", "t5", "vit", "clip", "wav", "deb", "xl", "mini",
    "tiny", "base", "large", "net", "res", "dis", "til", "sent", "qa", "ner", "seg", "det",
)
T0 = dt.datetime(2024, 1, 1)
MALFORMED_PER_FILE = 3
ZIPF_S = 1.1


def _zipf_cum(n: int, s: float = ZIPF_S) -> list[float]:
    return list(itertools.accumulate(1.0 / (r**s) for r in range(1, n + 1)))


@dataclass
class Pools:
    """Shared value pools the Zipf draws index into."""

    licenses: list[str]
    datasets: list[str]
    authors: list[str]
    keywords: list[str]
    vocab: list[str]
    cum: dict[str, list[float]] = field(default_factory=dict)

    def draw(self, rng: random.Random, pool: str) -> str:
        values = getattr(self, pool)
        if pool not in self.cum:
            self.cum[pool] = _zipf_cum(len(values))
        return rng.choices(values, cum_weights=self.cum[pool])[0]


def _pools(rng: random.Random) -> Pools:
    vocab = sorted(
        {
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))
            for _ in range(2500)
        }
    )
    rng.shuffle(vocab)
    return Pools(
        licenses=[f"license-{i}" for i in range(40)],
        datasets=[f"dataset-{i}" for i in range(400)],
        authors=[f"author-{i}" for i in range(1000)],
        keywords=[f"keyword-{i}" for i in range(250)],
        vocab=vocab,
    )


def refresh_time(k: int) -> dt.datetime:
    """Extraction time of refresh ``k`` (0 is the full-catalog load)."""
    return T0 + dt.timedelta(days=k)


class Catalog:
    """A seeded, growing model catalog and its refresh landing files.

    ``models`` is ordered oldest first, so "recent" means a high index.
    """

    def __init__(self, seed: int, n_models: int):
        self.rng = random.Random(seed)
        self.pools = _pools(self.rng)
        self.models: list[dict] = []
        self.refreshes = 0
        for _ in range(n_models):
            self._new_model()

    # ---- model records ----
    def _new_model(self) -> dict:
        rng, i = self.rng, len(self.models)
        openml = rng.random() < 0.15
        name = "-".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3))) + f"-{i}"
        org = self.pools.draw(rng, "authors")
        subject = (OPENML_PREFIX if openml else SUBJECT_PREFIX) + f"{org}/{name}"
        m = {
            "subject": subject,
            "name": name,
            "url": subject,
            "date_created": (T0 - dt.timedelta(days=rng.randint(1, 900))).strftime("%Y-%m-%d"),
            "library": rng.choice(LIBRARIES),
            "author": org,
            "evaluation": None,
            "dataset_object": None,
        }
        self._mutate(m)
        m["license"] = self.pools.draw(rng, "licenses")
        m["trained_on"] = self.pools.draw(rng, "datasets")
        m["keyword"] = self.pools.draw(rng, "keywords")
        if openml:
            ds = self.pools.draw(rng, "datasets")
            m["dataset_object"] = json.dumps(
                {
                    "name": ds,
                    "url": f"https://openml.org/d/{ds}",
                    "estimationProcedure": {
                        "type": rng.choice(("crossvalidation", "holdout")),
                        "data_splits_url": f"https://openml.org/s/{rng.randint(1, 50)}",
                        "parameters": {"folds": str(rng.choice((5, 10))), "repeats": "1"},
                    },
                },
                sort_keys=True,
            )
            m["evaluation"] = json.dumps(
                {
                    "accuracy": f"{rng.random():.4f}",
                    "f1": f"{rng.random():.4f}",
                    "auc": f"{rng.random():.4f}",
                },
                sort_keys=True,
            )
        self.models.append(m)
        return m

    def _mutate(self, m: dict) -> None:
        """(Re)draw the fields that change between extractions."""
        rng = self.rng
        n_words = rng.randint(8, 30)
        m["description"] = " ".join(self.pools.draw(rng, "vocab") for _ in range(n_words))
        m["downloads"] = str(int(rng.paretovariate(1.2) * 10))
        m["date_modified"] = (refresh_time(self.refreshes) - dt.timedelta(hours=rng.randint(1, 20))).strftime(
            "%Y-%m-%d"
        )

    def _recent_sample(self, n: int) -> list[int]:
        """``n`` distinct model indices, biased toward recent models
        (weight grows linearly with the index)."""
        total = len(self.models)
        cum = list(itertools.accumulate(i + 1 for i in range(total)))
        picked: set[int] = set()
        while len(picked) < min(n, total):
            picked.add(bisect.bisect_left(cum, self.rng.random() * cum[-1]))
        return sorted(picked)

    def recent_index(self, rng: random.Random) -> int:
        """A model index Zipf-skewed toward the most recent models."""
        total = len(self.models)
        key = ("recent", total)
        if key not in self.pools.cum:
            self.pools.cum[key] = _zipf_cum(total)
        return total - 1 - bisect.bisect_left(self.pools.cum[key], rng.random() * self.pools.cum[key][-1])

    # ---- landing files ----
    def full_landing(self) -> list[dict]:
        return [dict(m) for m in self.models]

    def refresh_landing(
        self, reextract: float, changed: float, new: float
    ) -> tuple[list[dict], dict]:
        """Advance to the next refresh. Returns its landing records and
        a summary: ``reextracted``, ``changed``, ``new`` counts."""
        self.refreshes += 1
        base = len(self.models)
        idx = self._recent_sample(max(1, round(reextract * base)))
        n_changed = 0
        for i in idx:
            if self.rng.random() < changed:
                self._mutate(self.models[i])
                if self.rng.random() < 0.3:
                    self.models[i]["license"] = self.pools.draw(self.rng, "licenses")
                n_changed += 1
        records = [dict(self.models[i]) for i in idx]
        n_new = max(1, round(new * base))
        records += [dict(self._new_model()) for _ in range(n_new)]
        return records, {"reextracted": len(idx), "changed": n_changed, "new": n_new}

    def write_landing(self, path: str, records: list[dict]) -> int:
        """Write records as JSONL with ``MALFORMED_PER_FILE`` broken lines
        spliced in at seeded positions. Returns the file size in bytes."""
        lines = [json.dumps(r, sort_keys=True) for r in records]
        for j in range(MALFORMED_PER_FILE):
            broken = json.dumps(records[j % len(records)], sort_keys=True)[: -(5 + j)]
            lines.insert(self.rng.randint(0, len(lines)), broken)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        return os.path.getsize(path)
