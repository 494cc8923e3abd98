#!/usr/bin/env python3
"""Seeded PubChem-shaped `.sdf.gz` dump for the compound workloads.

Each file is named like PubChem's dump (`Compound_000000001_000000500.sdf.gz`,
the CID span the file covers) and holds records shaped like PubChem's
compound SDF: an OEChem header, a V2000 molblock (atom and bond blocks),
then the full PubChem data-tag set, 2-6 KB per record. Some records are
missing a NOT_NULL tag of the default layout (the ingest filter drops
them), some carry `PUBCHEM_XLOGP3_AA` instead of `PUBCHEM_XLOGP3`, and
some carry neither. IUPAC names hold single quotes, which the reader
strips.

Usage: gen_sdf.py <seed> <n_files> <records_per_file> <outdir>

Writes the files under `<outdir>/sdf/`; `<outdir>/truth.tsv`, one line per
record with the values the default layout must extract from it (`kept` is 0
for records the NOT_NULL filter drops); and `<outdir>/files.tsv`, each file's
compressed and uncompressed size.
"""
import base64
import gzip
import os
import random
import sys

# Monoisotopic and average masses of the elements the generator uses.
MONO = {"C": 12.0, "H": 1.00782503207, "N": 14.0030740048, "O": 15.99491461956,
        "S": 31.97207100, "Cl": 34.96885268, "F": 18.99840322}
AVG = {"C": 12.011, "H": 1.008, "N": 14.007, "O": 15.999, "S": 32.06,
       "Cl": 35.45, "F": 18.998}
HEAVY = ["C"] * 10 + ["N"] * 2 + ["O"] * 3 + ["S", "Cl", "F"]
UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
NAME_PARTS = ["methyl", "ethyl", "propyl", "amino", "hydroxy", "oxo", "chloro",
              "phenyl", "pyridin", "benzo", "carbox", "sulfanyl", "fluoro"]
# NOT_NULL tags of the default layout that a record may lack (the CID is
# always present: a record without it is not a record to the reader).
NOT_NULL_TAGS = ["PUBCHEM_IUPAC_INCHI", "PUBCHEM_IUPAC_INCHIKEY",
                 "PUBCHEM_OPENEYE_CAN_SMILES", "PUBCHEM_OPENEYE_ISO_SMILES",
                 "PUBCHEM_EXACT_MASS", "PUBCHEM_MOLECULAR_FORMULA",
                 "PUBCHEM_MOLECULAR_WEIGHT"]
MISSING_RATE = 0.08
TRUTH_COLUMNS = ["cid", "src_filename", "kept", "InChI", "InChIKey", "SMILES_CAN",
                 "SMILES_ISO", "xlogp3", "exact_mass", "molecular_formula",
                 "molecular_weight"]


def hill_formula(counts):
    order = ["C", "H"] + sorted(e for e in counts if e not in ("C", "H"))
    return "".join(e + (str(counts[e]) if counts[e] > 1 else "")
                   for e in order if counts.get(e))


def record(cid, rng, keys):
    n = rng.randint(8, 40)
    atoms = rng.choices(HEAVY, k=n)
    counts = {}
    for a in atoms:
        counts[a] = counts.get(a, 0) + 1
    counts["H"] = rng.randint(n // 2, 2 * n)
    formula = hill_formula(counts)
    exact = sum(MONO[e] * k for e, k in counts.items())
    weight = sum(AVG[e] * k for e, k in counts.items())
    bonds = [(i, 1 + int(rng.random() * (i - 1)), 2 if rng.random() < 0.25 else 1)
             for i in range(2, n + 1)]
    while True:
        letters = "".join(rng.choices(UPPER, k=24))
        key = f"{letters[:14]}-{letters[14:]}-N"
        if key not in keys:
            keys.add(key)
            break
    smiles_atoms = [a if a in ("C", "N", "O", "S") else f"[{a}]" for a in atoms]
    smiles = "".join(smiles_atoms)
    if "C" in atoms:
        smiles_atoms[atoms.index("C")] = "[C@H]"
    iso = "".join(smiles_atoms)
    inchi = f"InChI=1S/{formula}/c{'-'.join(str(b[1]) for b in bonds[:12])}/h{cid % 97}H"
    name = "-".join(rng.choice(NAME_PARTS) for _ in range(rng.randint(2, 5)))
    tags = [
        ("PUBCHEM_COMPOUND_CID", str(cid)),
        ("PUBCHEM_COMPOUND_CANONICALIZED", "1"),
        ("PUBCHEM_CACTVS_COMPLEXITY", str(rng.randint(10, 900))),
        ("PUBCHEM_CACTVS_HBOND_ACCEPTOR", str(counts.get("O", 0) + counts.get("N", 0))),
        ("PUBCHEM_CACTVS_HBOND_DONOR", str(rng.randint(0, 4))),
        ("PUBCHEM_CACTVS_ROTATABLE_BOND", str(rng.randint(0, 12))),
        ("PUBCHEM_CACTVS_SUBSKEYS", "AAADc" + base64.b64encode(
            rng.getrandbits(8 * 114).to_bytes(114, "little")).decode()[:150] + "=="),
        ("PUBCHEM_IUPAC_OPENEYE_NAME", name),
        ("PUBCHEM_IUPAC_CAS_NAME", name.replace("-", " ")),
        ("PUBCHEM_IUPAC_NAME_MARKUP", f"N,N'-{name}"),
        ("PUBCHEM_IUPAC_NAME", f"N,N'-{name}"),
        ("PUBCHEM_IUPAC_SYSTEMATIC_NAME", f"2'-{name}"),
        ("PUBCHEM_IUPAC_TRADITIONAL_NAME", name),
        ("PUBCHEM_IUPAC_INCHI", inchi),
        ("PUBCHEM_IUPAC_INCHIKEY", key),
    ]
    u = rng.random()
    xlogp = f"{rng.randint(-40, 80) / 10:.1f}"
    if u < 0.60:
        tags.append(("PUBCHEM_XLOGP3", xlogp))
    elif u < 0.85:
        tags.append(("PUBCHEM_XLOGP3_AA", xlogp))
    else:
        xlogp = ""
    exact_s, weight_s = f"{exact:.8f}", f"{weight:.2f}"
    tags += [
        ("PUBCHEM_EXACT_MASS", exact_s),
        ("PUBCHEM_MOLECULAR_FORMULA", formula),
        ("PUBCHEM_MOLECULAR_WEIGHT", weight_s),
        ("PUBCHEM_OPENEYE_CAN_SMILES", smiles),
        ("PUBCHEM_OPENEYE_ISO_SMILES", iso),
        ("PUBCHEM_CACTVS_TPSA", f"{rng.randint(0, 2000) / 10:.1f}"),
        ("PUBCHEM_MONOISOTOPIC_WEIGHT", exact_s),
        ("PUBCHEM_TOTAL_CHARGE", "0"),
        ("PUBCHEM_HEAVY_ATOM_COUNT", str(n)),
        ("PUBCHEM_ATOM_DEF_STEREO_COUNT", "0"),
        ("PUBCHEM_ATOM_UDEF_STEREO_COUNT", str(rng.randint(0, 2))),
        ("PUBCHEM_BOND_DEF_STEREO_COUNT", "0"),
        ("PUBCHEM_BOND_UDEF_STEREO_COUNT", "0"),
        ("PUBCHEM_ISOTOPIC_ATOM_COUNT", "0"),
        ("PUBCHEM_COMPONENT_COUNT", "1"),
        ("PUBCHEM_CACTVS_TAUTO_COUNT", str(rng.randint(-1, 9))),
        ("PUBCHEM_COORDINATE_TYPE", "1\n5\n255"),
        ("PUBCHEM_BONDANNOTATIONS", "\n".join(
            f"{a}  {b}  8" for a, b, _ in bonds[: rng.randint(1, 6)])),
    ]
    missing = rng.choice(NOT_NULL_TAGS) if rng.random() < MISSING_RATE else None
    lines = [str(cid), "  -OEChem-10172118302D", "",
             f"{n:3d}{len(bonds):3d}  0     0  0  0  0  0  0999 V2000"]
    r = rng.random
    for a in atoms:
        lines.append(f"{18 * r() - 9:10.4f}{18 * r() - 9:10.4f}{0.0:10.4f} {a:<3}"
                     " 0  0  0  0  0  0  0  0  0  0  0  0")
    for i, j, order in bonds:
        lines.append(f"{i:3d}{j:3d}{order:3d}  0  0  0  0")
    lines.append("M  END")
    for tag, value in tags:
        if tag != missing:
            lines += [f"> <{tag}>", value, ""]
    truth = {"cid": str(cid), "kept": "0" if missing else "1", "InChI": inchi,
             "InChIKey": key, "SMILES_CAN": smiles, "SMILES_ISO": iso,
             "xlogp3": xlogp, "exact_mass": exact_s, "molecular_formula": formula,
             "molecular_weight": weight_s}
    return "\n".join(lines) + "\n$$$$\n", truth


def generate(seed, n_files, per_file, out):
    rng = random.Random(seed)
    os.makedirs(f"{out}/sdf", exist_ok=True)
    keys, cid = set(), 1
    sizes = []
    with open(f"{out}/truth.tsv.tmp", "w") as truth_out:
        truth_out.write("\t".join(TRUTH_COLUMNS) + "\n")
        for _ in range(n_files):
            # PubChem CIDs have gaps: each file covers a fixed span with
            # some CIDs absent, so in-span misses exist.
            span = per_file + per_file // 4
            cids = sorted(rng.sample(range(cid, cid + span), per_file))
            name = f"Compound_{cid:09d}_{cid + span - 1:09d}.sdf.gz"
            parts = []
            for c in cids:
                text, truth = record(c, rng, keys)
                parts.append(text)
                truth["src_filename"] = name
                truth_out.write("\t".join(truth[k] for k in TRUTH_COLUMNS) + "\n")
            data = "".join(parts).encode("utf-8")
            with gzip.open(f"{out}/sdf/{name}", "wb", compresslevel=6) as f:
                f.write(data)
            sizes.append(f"{name}\t{os.path.getsize(f'{out}/sdf/{name}')}\t{len(data)}\n")
            cid += span
    with open(f"{out}/files.tsv", "w") as f:
        f.write("name\tgz_bytes\tsdf_bytes\n" + "".join(sizes))
    os.replace(f"{out}/truth.tsv.tmp", f"{out}/truth.tsv")


if __name__ == "__main__":
    generate(int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
