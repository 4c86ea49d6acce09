"""Seeded transcript corpus for the benchmark, cached by seed and size.

The generator follows ``codepropertygraph_spark.testdata.generate_transcripts``
(same entity universe, alias dictionary, grammar and pathologies: a
mega-conversation, a hub entity, duplicate ``turn_idx`` rows, single-turn
conversations, unknown surfaces, shuffled rows) but draws from ``seed`` and
a chosen size instead of the fixed seed and tiers of the test corpus. The
expected triples come from the frozen ``testdata.reference_extract``.

Everything is written as parquet under ``<data_dir>/corpus/<key>/``; the
program only ever sees those files.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from codepropertygraph_spark import schema as S
from codepropertygraph_spark import testdata as td
from perfbench.stats import dir_bytes

CORPUS_VERSION = 2


@dataclass(frozen=True)
class Size:
    conversations: int
    mean_turns: int
    parts: int  # part files of the batch tables
    stream_files: int  # shuffled files of the streaming input

    @property
    def key(self) -> str:
        return f"c{self.conversations}-t{self.mean_turns}"


@dataclass(frozen=True)
class Corpus:
    root: str
    turns: int

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def expected_triples(self) -> set[tuple[str, str, str, str]]:
        t = pq.read_table(self.path("expected_triples.parquet"))
        return set(zip(*(t.column(c).to_pylist() for c in ("conv_id", "subj", "pred", "obj"))))

    def input_bytes(self) -> int:
        """Bytes of the batch inputs the pipeline reads."""
        return dir_bytes(self.path("transcripts.parquet")) + dir_bytes(
            self.path("alias_dict.parquet")
        )


def generate(seed: int, size: Size) -> tuple[list[dict], list[dict]]:
    """(transcript rows, alias rows), a pure function of ``seed`` and ``size``.

    Conversation lengths depend on ``size`` alone, so every seed yields the
    same number of turns and only the content and row order vary."""
    rng = np.random.default_rng(seed)
    lengths = np.random.default_rng(size.conversations).poisson(size.mean_turns, size.conversations)
    alias_rows = td.build_alias_dict(td.build_entities())
    surfaces = sorted({r["alias"] for r in alias_rows})
    tools = sorted({r["alias"] for r in alias_rows if r["entity_type"] == "TOOL"})
    hub = "org_1"
    unknown = [f"unknown_thing_{j}" for j in range(td.N_UNKNOWN_TOKENS)]
    fillers = td.FILLERS
    base_ts = datetime(2024, 1, 1)

    def pick(xs: list[str]) -> str:
        return xs[int(rng.integers(0, len(xs)))]

    rows: list[dict] = []
    for c in range(size.conversations):
        if c == 0:
            n_turns = size.mean_turns * 20  # mega-conversation
        elif c % 17 == 5:
            n_turns = 1
        else:
            n_turns = max(1, int(lengths[c]))
        hub_conv = c % 3 != 0
        dup_idx_conv = c % 20 == 3
        turn_idx = 0
        for t in range(n_turns):
            if not (dup_idx_conv and t in (2, 3)) and rng.random() < 0.1:
                turn_idx += 2
            if not (dup_idx_conv and t == 3):
                turn_idx += 1  # t == 3 repeats t == 2's turn_idx; ts breaks the tie
            is_tool = t % 7 == 6
            role = "tool" if is_tool else ("user" if t % 2 == 0 else "assistant")
            if t == 0 and c % 11 == 0:
                role = "system"
            toks = [pick(fillers)]
            tool = None
            for k in range(1 + int(rng.integers(0, 3))):
                if is_tool and k == 0:
                    subj, pred, obj = pick(surfaces), S.PRED_USES_TOOL, pick(tools)
                    tool = obj
                else:
                    if hub_conv and k == 0 and rng.random() < 0.5:
                        subj = hub
                    elif rng.random() < 0.08:
                        subj = pick(unknown)
                    else:
                        subj = pick(surfaces)
                    pred = pick(list(S.TEXT_PREDICATES))
                    obj = pick(unknown) if rng.random() < 0.08 else pick(surfaces)
                toks += [subj, pred, obj, pick(fillers)]
            rows.append(
                {
                    "conv_id": f"c{c:06d}",
                    "turn_idx": turn_idx,
                    "role": role,
                    "text": " ".join(toks),
                    "tool": tool,
                    "ts": base_ts + timedelta(seconds=c * 86400 + t * 10),
                }
            )
    perm = rng.permutation(len(rows))
    return [rows[i] for i in perm], alias_rows


def _write_parts(table: pa.Table, path: str, parts: int) -> None:
    os.makedirs(path)
    chunk = -(-table.num_rows // parts)
    for i in range(parts):
        part = table.slice(i * chunk, chunk)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def _transcripts_table(rows: list[dict]) -> pa.Table:
    return pa.table(
        {
            "conv_id": [r["conv_id"] for r in rows],
            "turn_idx": pa.array([r["turn_idx"] for r in rows], pa.int32()),
            "role": [r["role"] for r in rows],
            "text": [r["text"] for r in rows],
            "tool": [r["tool"] for r in rows],
            "ts": pa.array([r["ts"] for r in rows], pa.timestamp("us")),
        }
    )


def ensure_corpus(data_dir: str, seed: int, size: Size) -> Corpus:
    """Generate the corpus for (seed, size) unless it is already cached."""
    root = os.path.join(data_dir, "corpus", f"s{seed}-{size.key}")
    marker = os.path.join(root, "_CORPUS.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            meta = json.load(fh)
        if meta["version"] == CORPUS_VERSION:
            return Corpus(root, meta["turns"])
    shutil.rmtree(root, ignore_errors=True)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    rows, alias_rows = generate(seed, size)
    _write_parts(_transcripts_table(rows), os.path.join(tmp, "transcripts.parquet"), size.parts)
    pq.write_table(
        pa.Table.from_pylist(
            alias_rows,
            pa.schema(
                [
                    ("alias", pa.string()),
                    ("canonical_name", pa.string()),
                    ("entity_type", pa.string()),
                    ("prior", pa.float64()),
                ]
            ),
        ),
        os.path.join(tmp, "alias_dict.parquet"),
    )
    ordered = sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"], r["ts"]))
    _write_parts(
        pa.table(
            {
                "ast_id": pa.array(range(len(ordered)), pa.int64()),
                "conv_id": [r["conv_id"] for r in ordered],
                "ast": [td.turn_ast_json(r) for r in ordered],
            }
        ),
        os.path.join(tmp, "ast_json.parquet"),
        size.parts,
    )
    # streaming input: rows reshuffled and cut into files, so conversations
    # straddle micro-batches and arrive out of order
    reshuffled = [rows[i] for i in np.random.default_rng(seed + 1).permutation(len(rows))]
    _write_parts(_transcripts_table(reshuffled), os.path.join(tmp, "stream_in"), size.stream_files)
    triples = sorted(td.reference_extract(rows, alias_rows))
    pq.write_table(
        pa.table({c: [t[i] for t in triples] for i, c in enumerate(("conv_id", "subj", "pred", "obj"))}),
        os.path.join(tmp, "expected_triples.parquet"),
    )
    with open(os.path.join(tmp, "_CORPUS.json"), "w") as fh:
        json.dump(
            {"version": CORPUS_VERSION, "seed": seed, "size": size.key,
             "turns": len(rows), "triples": len(triples)},
            fh,
        )
    os.replace(tmp, root)
    return Corpus(root, len(rows))


def expected_json_nodes(ast_docs: list[tuple[int, str]]) -> set[tuple[int, str, str, str | None]]:
    """(ast_id, path, kind, value) for every node of every document, in the
    path grammar and value rendering of ``json_ingest.json_tree``."""
    out: set[tuple[int, str, str, str | None]] = set()

    def walk(doc_id: int, path: str, v) -> None:
        if isinstance(v, dict):
            out.add((doc_id, path, "object", None))
            for k, child in v.items():
                walk(doc_id, f"{path}.{k}", child)
        elif isinstance(v, list):
            out.add((doc_id, path, "array", None))
            for i, child in enumerate(v):
                walk(doc_id, f"{path}[{i}]", child)
        elif v is None:
            out.add((doc_id, path, "null", None))
        elif isinstance(v, bool):
            out.add((doc_id, path, "boolean", "true" if v else "false"))
        elif isinstance(v, str):
            out.add((doc_id, path, "string", v))
        else:
            out.add((doc_id, path, "number", json.dumps(v)))

    for doc_id, text in ast_docs:
        walk(doc_id, "$", json.loads(text))
    return out
