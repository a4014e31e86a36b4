"""Seeded SDF corpus generator for the benchmark.

Every record is one of the 8 reference compounds in ``tests/fixtures/sdf/``
with its identity rewritten: a new CID, and an InChIKey, molecular formula
and exact mass perturbed so that lookups have known, distinct answers. A
fixed share of records loses one NOT-NULL tag, so the layout's NOT-NULL
skip has work to do. Nothing is downloaded.

Each shard covers its own CID range and is named ``Compound_<lo>_<hi>.sdf.gz``
(the PubChem naming the manifest parses). The generator returns the counts
and lookup answers the benchmark checks the program against.
"""

from __future__ import annotations

import bisect
import glob
import os
import random
import re
import zlib

FIXTURE_GLOB = os.path.join("tests", "fixtures", "sdf", "*.sdf")

# Tags the default layout reads as NOT NULL; a dropped record loses one.
NOT_NULL_TAGS = (
    "PUBCHEM_IUPAC_INCHI",
    "PUBCHEM_IUPAC_INCHIKEY",
    "PUBCHEM_OPENEYE_CAN_SMILES",
    "PUBCHEM_OPENEYE_ISO_SMILES",
    "PUBCHEM_EXACT_MASS",
    "PUBCHEM_MOLECULAR_FORMULA",
    "PUBCHEM_MOLECULAR_WEIGHT",
)
DROP_SHARE = 1 / 16
MASS_STEP = 0.0125  # spacing between generated exact masses
MASS_TOL = 0.019  # lookup half-window: the centre and its two neighbours
FORMULA_SPACE_DIV = 3  # about 3 records share each generated formula
# The lookup mix is fixed and only the keys come from the seed: kinds and
# hit/miss follow these cycles, so every seed has the same share of each.
LOOKUP_CYCLE = ("by_cid", "by_inchikey", "by_cid", "by_inchikey_prefix", "mass_window", "by_formula")
MISS_EVERY = 5  # every 5th lookup asks for a key no surviving row has
_TAG_RE = re.compile(r"^> <([^>]+)>\n", re.M)
_FORMULA_RE = re.compile(r"^C(\d+)H(\d+)(.*)$")
_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def load_templates(root: str = ".") -> list[tuple[str, list[tuple[str, str]]]]:
    """The fixture records as (mol block, [(tag, value block)]), CID order."""
    files = sorted(glob.glob(os.path.join(root, FIXTURE_GLOB)))
    if not files:
        raise FileNotFoundError(f"no SDF fixtures under {root}/{FIXTURE_GLOB}")
    templates = []
    for fn in files:
        with open(fn) as fh:
            text = fh.read()
        for rec in text.split("$$$$\n"):
            if not rec.strip():
                continue
            head_end = rec.index("M  END\n") + len("M  END\n")
            body = rec[head_end:]
            starts = [m.start() for m in _TAG_RE.finditer(body)] + [len(body)]
            tags = []
            for a, b in zip(starts, starts[1:]):
                block = body[a:b]
                name = _TAG_RE.match(block).group(1)
                tags.append((name, block[block.index("\n") + 1:]))
            templates.append((rec[:head_end], tags))
    return templates


def _letters(n: int, width: int) -> str:
    out = []
    for _ in range(width):
        n, r = divmod(n, 26)
        out.append(_LETTERS[r])
    return "".join(reversed(out))


def _record(template, values: dict[str, str], drop: str | None) -> str:
    head, tags = template
    parts = [head]
    for name, block in tags:
        if name == drop:
            continue
        parts.append(f"> <{name}>\n")
        parts.append(values[name] + "\n\n" if name in values else block)
    parts.append("$$$$\n")
    return "".join(parts)


def generate(
    out_dir: str,
    seed: int,
    shards: int,
    per_shard: int,
    root: str = ".",
    first_shard: int = 0,
    n_lookups: int = 0,
    truth: dict | None = None,
) -> dict:
    """Write ``shards`` gzip shards into ``out_dir``; return the expected
    counts and (when ``n_lookups``) a seeded lookup stream with answers.

    ``first_shard`` places the shards after earlier ones in CID space, so a
    later call adds new files to an existing corpus; pass the earlier
    call's ``truth`` to get lookup answers over the union."""
    templates = load_templates(root)
    rng = random.Random(seed)
    salt = rng.randrange(26**6)
    span = per_shard + 17  # gaps between shards: ranges stay disjoint
    os.makedirs(out_dir, exist_ok=True)
    truth = truth or {"records": 0, "survivors": 0, "per_file": {}, "rows": []}
    formula_space = max(1, (shards + first_shard) * per_shard // FORMULA_SPACE_DIV)
    for s in range(first_shard, first_shard + shards):
        lo = 1000 + s * span
        hi = lo + per_shard - 1
        name = f"Compound_{lo:09d}_{hi:09d}.sdf.gz"
        chunks, kept = [], 0
        for j in range(per_shard):
            cid = lo + j
            t = rng.randrange(len(templates))
            values = {name_: v for name_, v in templates[t][1]}
            c0, h0, rest = _FORMULA_RE.match(values["PUBCHEM_MOLECULAR_FORMULA"].split("\n")[0]).groups()
            k = rng.randrange(formula_space)
            formula = f"C{int(c0) + k // 64}H{int(h0) + k % 64}{rest}"
            inchikey = f"{_letters(cid // 3 + salt, 14)}-{_letters(cid, 8)}SA-N"
            mass = "%.4f" % (100.0 + (s * per_shard + j) * MASS_STEP)
            drop = None
            if rng.random() < DROP_SHARE:
                drop = NOT_NULL_TAGS[rng.randrange(len(NOT_NULL_TAGS))]
            chunks.append(
                _record(
                    templates[t],
                    {
                        "PUBCHEM_COMPOUND_CID": str(cid),
                        "PUBCHEM_IUPAC_INCHIKEY": inchikey,
                        "PUBCHEM_MOLECULAR_FORMULA": formula,
                        "PUBCHEM_EXACT_MASS": mass,
                    },
                    drop,
                )
            )
            if drop is None:
                kept += 1
                truth["rows"].append((cid, inchikey, formula, float(mass)))
        data = "".join(chunks).encode()
        comp = zlib.compressobj(1, zlib.DEFLATED, 31)  # gzip container, fast level
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(comp.compress(data) + comp.flush())
        truth["records"] += per_shard
        truth["survivors"] += kept
        truth["per_file"][name] = kept
    if n_lookups:
        truth["lookups"] = lookup_stream(truth["rows"], rng, n_lookups)
    return truth


def lookup_stream(rows, rng: random.Random, n: int) -> list:
    """Seeded ``(kind, arg, expected sorted cids)`` triples."""
    by_key: dict[str, dict] = {"inchikey": {}, "prefix": {}, "formula": {}}
    cids = set()
    for cid, key, formula, _ in rows:
        cids.add(cid)
        by_key["inchikey"].setdefault(key, []).append(cid)
        by_key["prefix"].setdefault(key.split("-")[0], []).append(cid)
        by_key["formula"].setdefault(formula, []).append(cid)
    masses = sorted((m, cid) for cid, _, _, m in rows)
    mass_keys = [m for m, _ in masses]
    top_cid = max(cids)
    out = []
    for i in range(n):
        kind = LOOKUP_CYCLE[i % len(LOOKUP_CYCLE)]
        miss = i % MISS_EVERY == MISS_EVERY - 1
        cid, key, formula, mass = rows[rng.randrange(len(rows))]
        if kind == "by_cid":
            arg = cid if not miss else top_cid + 1 + rng.randrange(10**6)
            want = [arg] if arg in cids else []
        elif kind == "by_inchikey":
            arg = key if not miss else key[:-1] + "X"
            want = by_key["inchikey"].get(arg, [])
        elif kind == "by_inchikey_prefix":
            arg = key.split("-")[0] if not miss else "Z" * 14
            want = by_key["prefix"].get(arg, [])
        elif kind == "by_formula":
            arg = formula if not miss else "C999H999"
            want = by_key["formula"].get(arg, [])
        else:
            centre = mass if not miss else 10.0 + rng.random()
            ppm = MASS_TOL * 1e6 / centre
            tol = centre * ppm / 1e6  # the program's own arithmetic
            arg = [centre, ppm]
            a = bisect.bisect_left(mass_keys, centre - tol)
            b = bisect.bisect_right(mass_keys, centre + tol)
            want = [c for _, c in masses[a:b]]
        out.append((kind, arg, sorted(want)))
    return out

