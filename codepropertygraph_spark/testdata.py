"""Deterministic synthetic transcript corpus + frozen reference extractor.

The reference tests against tiny inline programs with exact expected graph
facts (``fuzzyc2cpg/src/test/scala/.../passes/CfgCreationPassTests.scala``)
and a 10-run byte-identical determinism check (``StableOutputTests.scala:
8-29``). Our analog: a seeded generator (seed=42, pure numpy/python — no
external data) that emits, per tier,

- ``transcripts.parquet``  (conv_id, turn_idx, role, text, tool, ts) — the
  input_hint shape, rows deliberately shuffled so the stable-ordering window
  has to do real work,
- ``alias_dict.parquet``   (alias, canonical_name, entity_type, prior) — the
  ``Linker.initMaps`` broadcast dictionary analog
  (``semanticcpg/.../linking/linker/Linker.scala:122-130``),
- ``expected_triples.parquet`` — the frozen reference-extractor output
  (the P/R ≥ 0.95 oracle; analog of exact-result query tests,
  ``queries/src/test/.../MallocMemcpyTests.scala:30-43``),
- ``expected_components.parquet`` — canonicalization oracle.

Fixture pathologies (FIXTURES.md):
- mega-conversation (conversation 0 has 20× the mean turns) — skew/salting,
- hub entity (HUB_ENTITY appears in ≥30% of conversations) — join/agg skew,
- duplicate ``turn_idx`` rows disambiguated only by ``ts``,
- unresolvable mentions → external stub entities (MethodStubCreator analog),
- alias collisions (same surface form → two entities; scored linking),
- single-turn conversations.

EXTRACTION GRAMMAR (shared contract between this frozen extractor and the
distributed pipeline — the "language" our frontend parses, standing in for
the reference's C grammar):

  * a turn's text is a space-separated token stream;
  * wherever token[i] ∈ TEXT_PREDICATES, the clause (token[i-1], token[i],
    token[i+1]) is a raw triple; subject/object tokens are mention surfaces;
  * any token found in the alias dict is a mention; a pred-adjacent token not
    in the dict is an *external* mention (stub entity);
  * linking: surface → canonical with max prior (tie: lexicographically
    smallest canonical_name); unresolved → ``external:<surface>``;
  * canonicalization: canonical names of the same entity_type whose
    '_'-token sets have Jaccard ≥ 0.5 are the same entity; connected
    components; component representative = min canonical name;
  * ``follows`` triples: order turns by (turn_idx, ts); for each consecutive
    pair, (first-resolved-mention(later), follows, first-resolved-mention(
    earlier)); skipped if either side has no mention;
  * the conversation triple set is DISTINCT (conv_id, subj, pred, obj).
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import schema as S

GENERATED_ROOT = os.environ.get(
    "SPARK_GRAFT_GENERATED",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "generated"),
)

SEED = 42
N_ENTITIES = 500
N_DUP_TWINS = 50  # entities 0..2*N_DUP_TWINS-1 step 2 get a "_dup" twin
N_COLLIDING_ALIASES = 20
N_UNKNOWN_TOKENS = 30

FILLERS = (
    "the so well okay hmm right note then also indeed perhaps anyway"
).split()

_TIERS = {  # sf -> (n_conversations, mean_turns_per_conversation)
    "sf0.001": (50, 10),
    "sf0.01": (200, 50),
    "sf0.1": (5000, 100),
}


# ---------------------------------------------------------------------------
# entity universe + alias dictionary
# ---------------------------------------------------------------------------

def build_entities() -> list[dict]:
    """Deterministic entity universe. Entity i has type ENTITY_TYPES[i%4] and
    canonical name '<type>_<i>'; the first N_DUP_TWINS even-indexed entities
    get a near-duplicate twin '<canonical>_dup' that canonicalization must
    merge back (token-Jaccard({person,17},{person,17,dup}) = 2/3 ≥ 0.5)."""
    ents = []
    for i in range(N_ENTITIES):
        etype = S.ENTITY_TYPES[i % len(S.ENTITY_TYPES)]
        name = f"{etype.lower()}_{i}"
        prior = round(0.1 + 0.8 * ((i * 37) % 100) / 100.0, 4)
        ents.append({"canonical_name": name, "entity_type": etype, "prior": prior})
    for i in range(0, 2 * N_DUP_TWINS, 2):
        base = ents[i]
        # index-specific suffix token ('person_4' -> 'person_4_4dup') so only
        # the true twin pair clears the token-Jaccard >= 0.5 merge threshold
        # ({person,4} vs {person,4,4dup} = 2/3); a generic 'dup' token would
        # bridge unrelated twins into one giant component.
        ents.append(
            {
                "canonical_name": f"{base['canonical_name']}_{i}dup",
                "entity_type": base["entity_type"],
                "prior": round(max(0.05, base["prior"] - 0.31), 4),
            }
        )
    return ents


def build_alias_dict(entities: list[dict]) -> list[dict]:
    """Alias surface forms. Every canonical name is its own alias; even
    entities also get 'p17'-style short forms, every third entity a squashed
    'person17' form. N_COLLIDING_ALIASES ambiguous surfaces ('amb_k') map to
    two entities each with different priors (scored linking, the dynamic-
    dispatch analog of CallLinker.scala:52-81)."""
    rows = []
    for idx, e in enumerate(entities):
        name, etype, prior = e["canonical_name"], e["entity_type"], e["prior"]
        aliases = {name}
        if not name.endswith("dup"):
            i = int(name.rsplit("_", 1)[1])
            if i % 2 == 0:
                aliases.add(f"{etype[0].lower()}{i}")
            if i % 3 == 0:
                aliases.add(f"{etype.lower()}{i}")
        else:
            aliases.add(name.replace("_", ""))
        for a in sorted(aliases):
            rows.append(
                {"alias": a, "canonical_name": name, "entity_type": etype, "prior": prior}
            )
    for k in range(N_COLLIDING_ALIASES):
        e1, e2 = entities[2 * k], entities[2 * k + 1]
        for e, p in ((e1, 0.9), (e2, 0.3)):
            rows.append(
                {
                    "alias": f"amb_{k}",
                    "canonical_name": e["canonical_name"],
                    "entity_type": e["entity_type"],
                    "prior": p,
                }
            )
    rows.sort(key=lambda r: (r["alias"], r["canonical_name"]))
    return rows


# ---------------------------------------------------------------------------
# transcripts
# ---------------------------------------------------------------------------

def generate_transcripts(tier: str) -> tuple[list[dict], list[dict]]:
    """Returns (transcript_rows, alias_dict_rows). Deterministic for a tier."""
    if tier not in _TIERS:
        raise ValueError(f"unknown tier {tier!r}; known: {sorted(_TIERS)}")
    n_conv, mean_turns = _TIERS[tier]
    rng = np.random.default_rng(SEED)

    entities = build_entities()
    alias_rows = build_alias_dict(entities)
    alias_surfaces = sorted({r["alias"] for r in alias_rows})
    tool_aliases = sorted(
        {r["alias"] for r in alias_rows if r["entity_type"] == "TOOL"}
    )
    # hub entity: an ORG mentioned in >=30% of conversations (join skew)
    hub_alias = "org_1"
    unknown_tokens = [f"unknown_thing_{j}" for j in range(N_UNKNOWN_TOKENS)]

    base_ts = datetime(2024, 1, 1)
    rows: list[dict] = []

    for c in range(n_conv):
        conv_id = f"c{c:06d}"
        if c == 0:
            n_turns = mean_turns * 20  # mega-conversation
        elif c % 17 == 5:
            n_turns = 1  # single-turn conversation
        else:
            n_turns = max(1, int(rng.poisson(mean_turns)))
        hub_conv = (c % 3) != 0  # hub entity present in ~2/3 of conversations
        dup_idx_conv = (c % 20) == 3  # duplicate-turn_idx pathology

        turn_idx = 0
        for t in range(n_turns):
            # turn_idx gaps and duplicates, ts is the tie-breaker
            if dup_idx_conv and t in (2, 3):
                pass  # keep same turn_idx for t=3 (set below)
            elif rng.random() < 0.1:
                turn_idx += 2
            if not (dup_idx_conv and t == 3):
                turn_idx += 1
            ts = base_ts + timedelta(seconds=c * 86400 + t * 10)

            is_tool_turn = (t % 7) == 6
            role = "tool" if is_tool_turn else ("user" if t % 2 == 0 else "assistant")
            if t == 0 and c % 11 == 0:
                role = "system"

            n_clauses = 1 + int(rng.integers(0, 3))
            toks: list[str] = [FILLERS[int(rng.integers(0, len(FILLERS)))]]
            tool_val = None
            for k in range(n_clauses):
                if is_tool_turn and k == 0:
                    subj = alias_surfaces[int(rng.integers(0, len(alias_surfaces)))]
                    pred = S.PRED_USES_TOOL
                    obj = tool_aliases[int(rng.integers(0, len(tool_aliases)))]
                    tool_val = obj
                else:
                    if hub_conv and k == 0 and rng.random() < 0.5:
                        subj = hub_alias
                    elif rng.random() < 0.08:
                        subj = unknown_tokens[int(rng.integers(0, len(unknown_tokens)))]
                    else:
                        subj = alias_surfaces[int(rng.integers(0, len(alias_surfaces)))]
                    pred = S.TEXT_PREDICATES[int(rng.integers(0, len(S.TEXT_PREDICATES)))]
                    if rng.random() < 0.08:
                        obj = unknown_tokens[int(rng.integers(0, len(unknown_tokens)))]
                    else:
                        obj = alias_surfaces[int(rng.integers(0, len(alias_surfaces)))]
                toks += [subj, pred, obj]
                toks.append(FILLERS[int(rng.integers(0, len(FILLERS)))])
            rows.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": int(turn_idx),
                    "role": role,
                    "text": " ".join(toks),
                    "tool": tool_val,
                    "ts": ts,
                }
            )

    # shuffle rows deterministically: the stable-ordering window must restore order
    perm = np.random.default_rng(SEED + 1).permutation(len(rows))
    rows = [rows[i] for i in perm]
    return rows, alias_rows


# ---------------------------------------------------------------------------
# frozen reference extractor (single-node, pure python — the oracle)
# ---------------------------------------------------------------------------

def _token_jaccard(a: str, b: str) -> float:
    sa, sb = set(a.split("_")), set(b.split("_"))
    return len(sa & sb) / len(sa | sb)


def build_merge_map(alias_rows: list[dict]) -> dict[str, str]:
    """Connected components over same-type canonical-name pairs with
    '_'-token Jaccard ≥ 0.5; representative = min name. Union-find."""
    canon = sorted({(r["canonical_name"], r["entity_type"]) for r in alias_rows})
    parent = {n: n for n, _ in canon}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo

    by_type: dict[str, list[str]] = {}
    for n, t in canon:
        by_type.setdefault(t, []).append(n)
    for names in by_type.values():
        for i in range(len(names)):
            for j in range(i + 1, len(names)):
                if _token_jaccard(names[i], names[j]) >= 0.5:
                    union(names[i], names[j])
    return {n: find(n) for n, _ in canon}


def link_surface(
    surface: str, best_of: dict[str, str], merge: dict[str, str]
) -> str:
    c = best_of.get(surface)
    if c is None:
        return S.EXTERNAL_PREFIX + surface
    return merge.get(c, c)


def best_alias_map(alias_rows: list[dict]) -> dict[str, str]:
    """surface → canonical with max prior, tie-break min canonical_name
    (Linker.linkToSingle + scored-candidate semantics)."""
    best: dict[str, tuple[float, str]] = {}
    for r in alias_rows:
        key = (r["prior"], r["canonical_name"])
        cur = best.get(r["alias"])
        if cur is None or key[0] > cur[0] or (key[0] == cur[0] and key[1] < cur[1]):
            best[r["alias"]] = key
    return {a: c for a, (_, c) in best.items()}


def reference_extract(
    transcript_rows: list[dict], alias_rows: list[dict]
) -> set[tuple[str, str, str, str]]:
    """The frozen oracle: (conv_id, subj, pred, obj) triple set."""
    best = best_alias_map(alias_rows)
    merge = build_merge_map(alias_rows)
    preds = set(S.TEXT_PREDICATES)

    by_conv: dict[str, list[dict]] = {}
    for r in transcript_rows:
        by_conv.setdefault(r["conv_id"], []).append(r)

    triples: set[tuple[str, str, str, str]] = set()
    for conv_id, turns in by_conv.items():
        turns = sorted(turns, key=lambda r: (r["turn_idx"], r["ts"]))
        first_mentions: list[str | None] = []
        for r in turns:
            toks = r["text"].split(" ")
            first: str | None = None
            for i, tok in enumerate(toks):
                if first is None and tok in best:
                    first = link_surface(tok, best, merge)
                if tok in preds and 0 < i < len(toks) - 1:
                    subj = link_surface(toks[i - 1], best, merge)
                    obj = link_surface(toks[i + 1], best, merge)
                    triples.add((conv_id, subj, tok, obj))
                    if first is None:
                        first = subj
            first_mentions.append(first)
        for a, b in zip(first_mentions, first_mentions[1:]):
            if a is not None and b is not None:
                triples.add((conv_id, b, S.PRED_FOLLOWS, a))
    return triples


# ---------------------------------------------------------------------------
# materialization (single parquet file per table, cached by marker)
# ---------------------------------------------------------------------------

def tier_dir(tier: str) -> str:
    return os.path.join(GENERATED_ROOT, tier)


def transcripts_path(tier: str) -> str:
    return os.path.join(tier_dir(tier), "transcripts.parquet")


def alias_dict_path(tier: str) -> str:
    return os.path.join(tier_dir(tier), "alias_dict.parquet")


def expected_triples_path(tier: str) -> str:
    return os.path.join(tier_dir(tier), "expected_triples.parquet")


def expected_components_path(tier: str) -> str:
    return os.path.join(tier_dir(tier), "expected_components.parquet")


def ast_json_path(tier: str) -> str:
    return os.path.join(tier_dir(tier), "ast_json.parquet")


def tier_of_sf_dir(sf_dir: str) -> str:
    """Map a driver sf dir (/root/testdata/sf0.01) to a generator tier."""
    base = os.path.basename(sf_dir.rstrip("/"))
    return base if base in _TIERS else "sf0.01"


def turn_ast_json(row: dict) -> str:
    """Nested AST-JSON for one turn — the semi-structured frontend input the
    deep-walk ingest (A3, ``FuzzyC2Cpg.scala:1661-1781`` JSON AST walk)
    parses into typed tree rows. Pure function of the row (no RNG), byte-
    stable (sorted keys, no whitespace). Shape exercises every JSON kind:
    object / array / string / number / boolean / null."""
    toks = row["text"].split(" ")
    preds = set(S.TEXT_PREDICATES)
    clauses = []
    for i, tok in enumerate(toks):
        if tok in preds and 0 < i < len(toks) - 1:
            clauses.append(
                {
                    "pred": tok,
                    "subj": {"surface": toks[i - 1], "pos": i},
                    "obj": {"surface": toks[i + 1], "pos": i + 2},
                }
            )
    doc = {
        "role": row["role"],
        "idx": row["turn_idx"],
        "is_tool": row["role"] == "tool",
        "tool": row["tool"],  # null for non-tool turns → JSON null coverage
        "clauses": clauses,
    }
    return json.dumps(doc, sort_keys=True, separators=(",", ":"))


GENERATOR_VERSION = 4  # bump to invalidate cached corpora


def ensure_generated(tier: str) -> str:
    """Idempotently generate the tier's corpus; returns the tier dir."""
    d = tier_dir(tier)
    marker = os.path.join(d, "_GENERATED.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            if json.load(fh).get("version") == GENERATOR_VERSION:
                return d
        import shutil

        shutil.rmtree(d)
    os.makedirs(d, exist_ok=True)
    rows, alias_rows = generate_transcripts(tier)

    t_table = pa.table(
        {
            "conv_id": [r["conv_id"] for r in rows],
            "turn_idx": pa.array([r["turn_idx"] for r in rows], pa.int32()),
            "role": [r["role"] for r in rows],
            "text": [r["text"] for r in rows],
            "tool": [r["tool"] for r in rows],
            "ts": pa.array([r["ts"] for r in rows], pa.timestamp("us")),
        }
    )
    a_table = pa.table(
        {
            "alias": [r["alias"] for r in alias_rows],
            "canonical_name": [r["canonical_name"] for r in alias_rows],
            "entity_type": [r["entity_type"] for r in alias_rows],
            "prior": pa.array([r["prior"] for r in alias_rows], pa.float64()),
        }
    )
    triples = sorted(reference_extract(rows, alias_rows))
    tr_table = pa.table(
        {
            "conv_id": [t[0] for t in triples],
            "subj": [t[1] for t in triples],
            "pred": [t[2] for t in triples],
            "obj": [t[3] for t in triples],
        }
    )
    merge = build_merge_map(alias_rows)
    mm = sorted(merge.items())
    mm_table = pa.table(
        {
            "canonical_name": [k for k, _ in mm],
            "merged_name": [v for _, v in mm],
        }
    )
    tmp = d + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    # transcripts are written as a DIRECTORY of part files: a single small
    # parquet file is one Spark input partition (maxPartitionBytes), which
    # serializes every downstream map stage — a real table is many files.
    n_parts = max(8, min(64, len(rows) // 4000))
    tdir = os.path.join(tmp, "transcripts.parquet")
    os.makedirs(tdir, exist_ok=True)
    chunk = (t_table.num_rows + n_parts - 1) // n_parts
    for i in range(n_parts):
        sl = t_table.slice(i * chunk, chunk)
        if sl.num_rows:
            pq.write_table(sl, os.path.join(tdir, f"part-{i:03d}.parquet"))
    pq.write_table(a_table, os.path.join(tmp, "alias_dict.parquet"))
    # nested AST-JSON per turn (ordered by the original generation order, so
    # ast_id is a stable dense key independent of the shuffled row order)
    aj_rows = sorted(
        range(len(rows)),
        key=lambda i: (rows[i]["conv_id"], rows[i]["turn_idx"], rows[i]["ts"]),
    )
    aj_table = pa.table(
        {
            "ast_id": pa.array(range(len(aj_rows)), pa.int64()),
            "conv_id": [rows[i]["conv_id"] for i in aj_rows],
            "turn_idx": pa.array(
                [rows[i]["turn_idx"] for i in aj_rows], pa.int32()
            ),
            "ast": [turn_ast_json(rows[i]) for i in aj_rows],
        }
    )
    # directory of part files (single-file parquet = one Spark input
    # partition = a serial walk; same reasoning as transcripts above)
    ajdir = os.path.join(tmp, "ast_json.parquet")
    os.makedirs(ajdir, exist_ok=True)
    aj_chunk = (aj_table.num_rows + n_parts - 1) // n_parts
    for i in range(n_parts):
        sl = aj_table.slice(i * aj_chunk, aj_chunk)
        if sl.num_rows:
            pq.write_table(sl, os.path.join(ajdir, f"part-{i:03d}.parquet"))
    pq.write_table(tr_table, os.path.join(tmp, "expected_triples.parquet"))
    pq.write_table(mm_table, os.path.join(tmp, "expected_components.parquet"))
    import shutil

    for f in os.listdir(tmp):
        dst = os.path.join(d, f)
        if os.path.exists(dst):
            shutil.rmtree(dst) if os.path.isdir(dst) else os.remove(dst)
        os.replace(os.path.join(tmp, f), dst)
    os.rmdir(tmp)
    with open(marker, "w") as fh:
        json.dump(
            {
                "tier": tier,
                "seed": SEED,
                "version": GENERATOR_VERSION,
                "turns": len(rows),
                "triples": len(triples),
            },
            fh,
        )
    return d
