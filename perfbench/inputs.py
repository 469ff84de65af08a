"""Deterministic, seeded benchmark inputs, cached on disk by
(workload family, seed, size).

Every row is a pure function of (seed, row number), so the same seed gives
identical tables on any machine. Generation runs in plain Python before
any timed section; the program only ever sees the parquet/JSON files written
here.

Families:
  golden  - turns from data/transcripts (the 18-alias golden KB) plus their
            gold labels; mentions are left to the gazetteer.
  largekb - a data/synthetic_kb KB plus transcripts whose gold spans name that
            KB's aliases (new generator below).
  serve   - LinkingRequest documents cut from the golden transcript generator,
            each with its gold span.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

TURNS_PER_CONV = 8
_EPOCH = pd.Timestamp("2025-01-01 00:00:00", tz="UTC")

# large-KB transcript mix
CANONICAL_SHARE = 0.7  # remaining mentions use the initials alias
TYPO_SHARE = 0.3
_FILLER = "so then we looked at the results again and compared them with last week".split()

LABEL_COLS = ["conv_id", "turn_idx", "mention", "start", "end", "gold_entity", "block_key"]
TURN_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
MENTION_COLS = ["conv_id", "turn_idx", "mention_id", "text", "start", "end", "label"]


def _rng(*key) -> np.random.Generator:
    h = hashlib.blake2b(":".join(map(str, key)).encode(), digest_size=8).digest()
    return np.random.default_rng(int.from_bytes(h, "big"))


def typo(word: str, rng: np.random.Generator) -> str:
    """1-2 single-character edits, never on the first character (the fuzzy
    rescue blocks on it, and a real typo rarely hits it)."""
    s = list(word)
    for _ in range(int(rng.integers(1, 3))):
        i = int(rng.integers(1, len(s)))
        op = int(rng.integers(0, 3))
        c = chr(ord("a") + int(rng.integers(0, 26)))
        if op == 0 and len(s) > 3:
            del s[i]
        elif op == 1:
            s.insert(i, c)
        else:
            s[i] = c
    return "".join(s)


def _turn_keys(gid: int) -> tuple[str, int]:
    return f"c{gid // TURNS_PER_CONV:08d}", gid % TURNS_PER_CONV


def golden_tables(seed: int, n_turns: int) -> dict[str, pd.DataFrame]:
    """Rows of data/transcripts.generate_full (its per-turn oracle
    `turn_record`), split into turns and gold labels."""
    from spacy_ann_linker_spark.data.transcripts import turn_record

    full = pd.DataFrame([turn_record(seed, g) for g in range(n_turns)])
    full["ts"] = full["ts"].dt.tz_localize("UTC")
    labels = full[full["mention"].notna()][LABEL_COLS]
    return {"turns": full[TURN_COLS], "labels": labels.reset_index(drop=True)}


def largekb_tables(seed: int, n_entities: int, n_turns: int) -> dict[str, pd.DataFrame]:
    """A synthetic_kb KB and transcripts that mention it.

    Each turn names one uniformly drawn entity (so most mention strings are
    distinct): CANONICAL_SHARE of mentions use the canonical alias, the rest
    the initials alias; TYPO_SHARE of them carry 1-2 character edits. The
    surrounding words come from the entity's description, so context
    disambiguation has signal."""
    from spacy_ann_linker_spark.data.synthetic_kb import entity_record

    recs = [entity_record(seed, g) for g in range(n_entities)]
    entities = pd.DataFrame(
        [{k: r[k] for k in ("id", "name", "description", "label")} for r in recs]
    )
    by_alias: dict[str, list[str]] = {}
    for r in recs:
        for a in (r["alias1"], r["alias2"]):
            by_alias.setdefault(a, []).append(r["id"])
    aliases = pd.DataFrame(
        [
            {"alias": a, "entities": sorted(ids), "probabilities": [1.0 / len(ids)] * len(ids)}
            for a, ids in sorted(by_alias.items())
        ]
    )

    turns, mentions, labels = [], [], []
    for gid in range(n_turns):
        rng = _rng("largekb", seed, gid)
        conv, turn = _turn_keys(gid)
        r = recs[int(rng.integers(0, n_entities))]
        alias = r["alias1"] if rng.random() < CANONICAL_SHARE else r["alias2"]
        mention = typo(alias, rng) if rng.random() < TYPO_SHARE else alias
        words = r["description"].split()
        lead = " ".join(words[int(rng.integers(0, len(words)))] for _ in range(int(rng.integers(3, 7))))
        trail = " ".join(_FILLER[int(rng.integers(0, len(_FILLER)))] for _ in range(int(rng.integers(2, 6))))
        start = len(lead) + 1
        turns.append((conv, turn, "user" if turn % 2 == 0 else "assistant",
                      f"{lead} {mention} {trail}", "",
                      _EPOCH + pd.Timedelta(seconds=gid * 20)))
        mentions.append((conv, turn, gid, mention, start, start + len(mention), None))
        labels.append((conv, turn, mention, start, start + len(mention), r["id"], alias.lower()))
    return {
        "entities": entities,
        "aliases": aliases,
        "turns": pd.DataFrame(turns, columns=TURN_COLS),
        "mentions": pd.DataFrame(mentions, columns=MENTION_COLS).astype({"label": "string"}),
        "labels": pd.DataFrame(labels, columns=LABEL_COLS),
    }


# every serve request carries one document of each mention form, so all
# requests run the same linking paths (short-alias bypass, exact alias,
# cosine match of a case variant, cosine/threshold on a typo) and differ only
# in their strings
SERVE_FORMS = ("exact", "short", "case", "typo")


def mention_form(mention: str, alias_key: str, aliases: set[str]) -> str:
    if mention in aliases:
        return "short" if len(mention) < 4 else "exact"
    return "case" if mention.lower() == alias_key else "typo"


def serve_documents(seed: int, n_requests: int, docs_per_request: int) -> list[list[dict]]:
    """LinkingRequest payloads cut from the golden transcript generator: each
    document is one turn with its gold span, and request slot d takes the
    next turn whose mention has form SERVE_FORMS[d % 4]. The gold entity and
    the form ride along per span under `_gold` / `_form`; keys starting with
    `_` are stripped before sending."""
    from spacy_ann_linker_spark.data.golden_kb import read_resource_jsonl
    from spacy_ann_linker_spark.data.transcripts import turn_record

    aliases = {a["alias"] for a in read_resource_jsonl("golden_aliases.jsonl")}
    queues: dict[str, list[dict]] = {f: [] for f in SERVE_FORMS}
    slots = [SERVE_FORMS[d % len(SERVE_FORMS)] for d in range(docs_per_request)]
    need = {f: n_requests * slots.count(f) for f in SERVE_FORMS}
    gid = 0
    while any(len(queues[f]) < need[f] for f in SERVE_FORMS):
        r = turn_record(seed, gid)
        gid += 1
        if r["mention"] is None:
            continue
        form = mention_form(r["mention"], r["block_key"], aliases)
        span = {"text": r["mention"], "start": r["start"], "end": r["end"],
                "label": None, "_gold": r["gold_entity"], "_form": form}
        queues[form].append({"context": r["text"], "spans": [span]})
    return [[queues[f].pop(0) for f in slots] for _ in range(n_requests)]


def build(family: str, seed: int, size: dict) -> dict:
    """-> {table name: DataFrame} or {"requests": payloads}."""
    if family == "golden":
        return golden_tables(seed, size["turns"])
    if family == "largekb":
        return largekb_tables(seed, size["entities"], size["turns"])
    if family == "serve":
        return {"requests": serve_documents(seed, size["requests"], size["docs_per_request"])}
    raise ValueError(f"unknown input family {family!r}")


def cache_dir(root: str, family: str, seed: int, size: dict) -> str:
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    return os.path.join(root, f"{family}-s{seed}-{tag}")


def ensure(root: str, family: str, seed: int, size: dict) -> str:
    """Write the inputs for (family, seed, size) once; return their directory.
    Written to a temporary sibling and renamed, so a killed run never leaves
    a half-written cache entry behind."""
    out = cache_dir(root, family, seed, size)
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, data in build(family, seed, size).items():
        if isinstance(data, pd.DataFrame):
            data.to_parquet(os.path.join(tmp, f"{name}.parquet"), coerce_timestamps="us", index=False)
        else:
            with open(os.path.join(tmp, f"{name}.json"), "w") as f:
                json.dump(data, f)
    os.rename(tmp, out)
    return out
