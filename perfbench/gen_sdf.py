"""Seeded generator of a PubChem-shaped `.sdf.gz` corpus.

The corpus is laid out the way PubChem ships `Compound_*.sdf.gz`: one
contiguous CID range per file, records in CID order, every tag of the
default extraction layout (graft.sources.LayoutSpec.default) present
as a `> <TAG>` block followed by its value and a blank line, and
records separated by `$$$$`. Each record carries a molfile header and
atom/bond block, so the extraction regexes scan realistic bytes.

Three kinds of records make the extraction chains and the NOT_NULL
gate do real work:
  * a fixed share lacks one NOT_NULL tag, so `Sdf.filterNotNull` drops it;
  * a fixed share carries `PUBCHEM_XLOGP3_AA` instead of `PUBCHEM_XLOGP3`
    (the coalesce fallback), and a few carry neither (xlogp3 is nullable);
  * each file holds chunks with no `PUBCHEM_COMPOUND_CID`, which
    `Sdf.records` drops before extraction.

The same seed gives byte-identical files (gzip header mtime is 0).
Next to the corpus the generator writes `expected.json` (per-file
counts and byte sizes) and `expected.tsv` (one line per record that
survives extraction), which the benchmark checks results against.
run.py calls `generate(seed, out)`; the corpus size is fixed below.
"""
import gzip
import json
import os
import random

N_FILES = 12                 # more files than cores, as PubChem ships them
PER_FILE = 1000              # records with a CID per file
NOT_NULL_DROP_SHARE = 0.04   # records missing one NOT_NULL tag
XLOGP3_AA_SHARE = 0.25       # records that fall back to PUBCHEM_XLOGP3_AA
NO_XLOGP_SHARE = 0.03        # records with neither tag (xlogp3 is null)
NO_CID_CHUNKS_PER_FILE = 3   # chunks without PUBCHEM_COMPOUND_CID
# NOT_NULL tags a dropped record may lack (the CID itself is never
# removed: a CID-less chunk is a different case, counted separately).
DROPPABLE_TAGS = ["PUBCHEM_IUPAC_INCHI", "PUBCHEM_IUPAC_INCHIKEY",
                  "PUBCHEM_OPENEYE_CAN_SMILES", "PUBCHEM_OPENEYE_ISO_SMILES",
                  "PUBCHEM_EXACT_MASS", "PUBCHEM_MOLECULAR_FORMULA",
                  "PUBCHEM_MOLECULAR_WEIGHT"]
ELEMENTS = [("C", 12.0), ("N", 14.003074), ("O", 15.994915), ("S", 31.972071),
            ("Cl", 34.968853), ("F", 18.998403)]
UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def _inchikey(rng, seen):
    while True:
        key = ("".join(rng.choice(UPPER) for _ in range(14)) + "-" +
               "".join(rng.choice(UPPER) for _ in range(8)) + "SA-N")
        if key not in seen:
            seen.add(key)
            return key


def _record(cid, rng, seen_keys):
    """Returns (record text, expected row or None when NOT_NULL drops it)."""
    n_heavy = rng.randint(4, 36)
    counts = {"C": n_heavy}
    for sym, _ in ELEMENTS[1:]:
        if rng.random() < 0.35:
            counts[sym] = rng.randint(1, 4)
    n_h = rng.randint(0, 2 * n_heavy + 2)
    formula = "".join(f"{s}{counts[s] if counts[s] > 1 else ''}"
                      for s, _ in ELEMENTS if s in counts)
    formula = formula.replace("C", f"C{counts['C']}H{n_h}", 1) if n_h else formula
    mass = sum(counts[s] * m for s, m in ELEMENTS if s in counts) + n_h * 1.007825
    exact_mass = f"{mass:.6f}"
    weight = f"{mass * 1.00065:.3f}"
    key = _inchikey(rng, seen_keys)
    inchi = f"InChI=1S/{formula}/c{cid}-{rng.randint(1, 99)}h{rng.randint(1, 9)}"
    smiles = "".join(rng.choice("CCCNOc1(=)") for _ in range(n_heavy))
    iso = smiles.replace("C", "[C@H]", 1)
    r = rng.random()
    if r < NO_XLOGP_SHARE:
        xtag, xval = None, ""
    else:
        xtag = "PUBCHEM_XLOGP3_AA" if r < NO_XLOGP_SHARE + XLOGP3_AA_SHARE else "PUBCHEM_XLOGP3"
        xval = f"{rng.uniform(-4.0, 9.0):.1f}"

    tags = [("PUBCHEM_COMPOUND_CID", str(cid)),
            ("PUBCHEM_COMPOUND_CANONICALIZED", "1"),
            ("PUBCHEM_CACTVS_COMPLEXITY", str(rng.randint(10, 900))),
            ("PUBCHEM_IUPAC_INCHI", inchi),
            ("PUBCHEM_IUPAC_INCHIKEY", key)]
    if xtag:
        tags.append((xtag, xval))
    tags += [("PUBCHEM_EXACT_MASS", exact_mass),
             ("PUBCHEM_MOLECULAR_FORMULA", formula),
             ("PUBCHEM_MOLECULAR_WEIGHT", weight),
             ("PUBCHEM_OPENEYE_CAN_SMILES", smiles),
             ("PUBCHEM_OPENEYE_ISO_SMILES", iso),
             ("PUBCHEM_HEAVY_ATOM_COUNT", str(n_heavy))]
    dropped = rng.random() < NOT_NULL_DROP_SHARE
    if dropped:
        gone = rng.choice(DROPPABLE_TAGS)
        tags = [t for t in tags if t[0] != gone]

    n_atoms = n_heavy + n_h
    lines = [str(cid), "  -OEChem-10172600003D", "",
             f"{n_atoms:3d}{n_atoms - 1:3d}  0     0  0  0  0  0  0999 V2000"]
    for i in range(n_atoms):
        sym = "C" if i < n_heavy else "H"
        lines.append(f"{rng.uniform(-9, 9):10.4f}{rng.uniform(-9, 9):10.4f}"
                     f"{rng.uniform(-9, 9):10.4f} {sym:<3} 0  0  0  0  0  0  0  0  0  0  0  0")
    for i in range(1, n_atoms):
        lines.append(f"{rng.randrange(i) + 1:3d}{i + 1:3d}  1  0  0  0  0")
    lines.append("M  END")
    for tag, value in tags:
        lines += [f"> <{tag}>", value, ""]
    text = "\n".join(lines) + "\n$$$$\n"
    row = None if dropped else (cid, key, xval, exact_mass, formula, weight)
    return text, row


def _no_cid_chunk(rng):
    return ("\n  -OEChem-10172600003D\n\n  0  0  0     0  0  0  0  0  0999 V2000\n"
            f"M  END\n> <PUBCHEM_CACTVS_COMPLEXITY>\n{rng.randint(1, 99)}\n\n$$$$\n")


def generate(seed, out, n_files=N_FILES, per_file=PER_FILE):
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    seen_keys = set()
    files, rows = [], []
    for f in range(n_files):
        lo = 1 + f * per_file
        hi = lo + per_file - 1
        name = f"Compound_{lo:09d}_{hi:09d}.sdf.gz"
        junk_at = set(rng.sample(range(per_file), NO_CID_CHUNKS_PER_FILE))
        parts, kept, dropped = [], 0, []
        for i in range(per_file):
            if i in junk_at:
                parts.append(_no_cid_chunk(rng))
            text, row = _record(lo + i, rng, seen_keys)
            parts.append(text)
            if row is None:
                dropped.append(lo + i)
            else:
                rows.append(row)
                kept += 1
        data = "".join(parts).encode("utf-8")
        with open(os.path.join(out, name), "wb") as raw, \
                gzip.GzipFile(filename="", mode="wb", fileobj=raw, mtime=0, compresslevel=6) as gz:
            gz.write(data)
        files.append({"name": name, "lowest_cid": lo, "highest_cid": hi,
                      "generated": per_file, "kept": kept, "dropped_cids": dropped,
                      "no_cid_chunks": NO_CID_CHUNKS_PER_FILE, "sdf_bytes": len(data)})
    with open(os.path.join(out, "expected.tsv"), "w") as t:
        for r in rows:
            t.write("\t".join(str(v) for v in r) + "\n")
    with open(os.path.join(out, "expected.json"), "w") as j:
        json.dump({"seed": seed, "files": files}, j, indent=1)
    return files

