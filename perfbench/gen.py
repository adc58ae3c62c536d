"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of (seed, size):

- catalog tables: the ten parquet tables the query catalog reads
  (TPC-H-style star schema, an events stream, a text corpus and an
  embedding table), with the same schemas and value shapes as the
  test data described in TESTDATA.md;
- a molecule corpus: PubChem-style ``.sdf.gz``, ChEMBL-style plain SDF
  and ZINC-style whitespace tranches, plus a record of every fact the
  generator planted (records per source, identifiers, validity,
  normalized forms and molecular weights) for checking the ingest path.
"""
import gzip
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# catalog tables
# --------------------------------------------------------------------------

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _ts(start, days, rng, n, whole_days=True):
    base = np.datetime64(start, "us")
    if whole_days:
        off = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    else:
        off = np.sort(rng.integers(0, days * 86_400_000_000, n)).astype("timedelta64[us]")
    return pa.array(base + off, type=pa.timestamp("us"))


def _round2(x):
    return np.round(x, 2)


def catalog_tables(seed, sf):
    """Return {name: pyarrow.Table} for the ten catalog tables at scale `sf`
    (sf=0.1 is ~600k lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = int(50_000 * sf)
    n_vec = max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_supp))})
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _round2(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _round2(rng.uniform(900.0, 105000.0, n_line)),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02", 2498, rng, n_line)})
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts("2024-01-01", 30, rng, n_evt, whole_days=False),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": _round2(rng.exponential(50.0, n_evt)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    # documents: uniform words over a 30-word vocabulary; 5% near-dups
    # (an earlier document plus the token "dup") and a few exact dups
    lens = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + n]))
        pos += n
    for i in range(1, n_docs):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif r < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})
    return t


def write_tables(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# molecule corpus
# --------------------------------------------------------------------------

# the weights and standard valences the engine's SMILES model uses
WEIGHT = {"H": 1.008, "C": 12.011, "N": 14.007, "O": 15.999, "S": 32.06,
          "F": 18.998, "Cl": 35.453, "Br": 79.904, "Na": 22.990}
VALENCE = {"C": 4, "N": 3, "O": 2, "S": 2, "F": 1, "Cl": 1, "Br": 1}
CHAIN = ["C"] * 14 + ["N"] * 3 + ["O"] * 2 + ["S"]
SUBSTITUENTS = ["C", "O", "N", "F", "Cl", "Br"]
MALFORMED = ["C(C", "C1CC", "CC)C", "C=", "CXC", "C(=O", "c1ccX1", "((C))"]
SALTS = [".[Na+]", ".Cl", ".[Cl-]"]


class Molecule:
    """An acyclic or single-ring organic molecule kept as an atom list in
    SMILES emission order, so its weight is summed in the same order the
    parser visits the atoms."""

    def __init__(self, rng):
        n = rng.randint(3, 17)
        self.atoms = [rng.choice(CHAIN) for _ in range(n)]
        self.bonds = [0] * n             # bond-order sum per atom
        self.order = [1] * n             # order of the bond to the previous atom
        for i in range(1, n):
            self._bond(i - 1, i, 1)
        # upgrade a few C-C bonds to double bonds where valence allows
        for i in range(1, n):
            a, b = self.atoms[i - 1], self.atoms[i]
            if a == "C" and b == "C" and rng.random() < 0.15 \
                    and self._free(i - 1) >= 1 and self._free(i) >= 1:
                self.order[i] = 2
                self._bond(i - 1, i, 1)
        # one-atom substituent branches (methyl, hydroxyl, halogen)
        self.sub_bonds = {}
        for i in range(n):
            if rng.random() < 0.3 and self._free(i) >= 1 and self.atoms[i] == "C":
                self.sub_bonds[i] = rng.choice(SUBSTITUENTS)
                self.bonds[i] += 1
        # optional ring closure from atom 0 to atom k (k >= 4)
        self.ring = None
        if n >= 6 and rng.random() < 0.25:
            k = rng.randrange(4, n)
            if self._free(0) >= 1 and self._free(k) >= 1:
                self.ring = k
                self.bonds[0] += 1
                self.bonds[k] += 1

    def _bond(self, i, j, order):
        self.bonds[i] += order
        self.bonds[j] += order

    def _free(self, i):
        return VALENCE[self.atoms[i]] - self.bonds[i]

    def smiles(self, stereo=False):
        out = []
        for i, a in enumerate(self.atoms):
            if i > 0:
                if self.order[i] == 2:
                    out.append("=")
                elif stereo and i == 1:
                    out.append("/")
            out.append(a)
            if self.ring is not None and i in (0, self.ring):
                out.append("1")
            if i in self.sub_bonds:
                out.append("(" + self.sub_bonds[i] + ")")
        return "".join(out)

    def weight(self):
        """Sum over atoms in emission order of atom weight plus implicit
        hydrogens (standard valence minus bond-order sum)."""
        total = 0.0
        for i, a in enumerate(self.atoms):
            total += WEIGHT[a] + max(0, VALENCE[a] - self.bonds[i]) * WEIGHT["H"]
            if i in self.sub_bonds:
                s = self.sub_bonds[i]
                total += WEIGHT[s] + (VALENCE[s] - 1) * WEIGHT["H"]
        return total


def _sdf_record(id_tag, smiles_tag, ident, smiles, extra):
    lines = [ident, "  -graft-", "",
             "  0  0  0  0  0  0  0  0  0  0999 V2000", "M  END"]
    if ident is not None:
        lines += [f">  <{id_tag}>", ident, ""]
    if smiles is not None:
        lines += [f">  <{smiles_tag}>", smiles, ""]
    for k, v in extra:
        lines += [f">  <{k}>", v, ""]
    lines.append("$$$$")
    return "\n".join(lines) + "\n"


def molecule_corpus(seed, out_dir, n_per_source, files_per_source):
    """Write the three-source corpus under out_dir and return the facts
    the generator planted (JSON-serializable)."""
    rng = random.Random(seed * 7919 + 2)
    n_base = int(n_per_source * 1.2)
    base = [Molecule(rng) for _ in range(n_base)]
    base_smiles = [m.smiles() for m in base]
    facts = {"sources": {}, "weights": {}}
    for m, s in zip(base, base_smiles):
        facts["weights"][s] = m.weight()
    # shared pool: 20% of each source's molecules come from the first
    # 30% of the base set, so the same molecule appears across sources
    shared = max(1, int(n_base * 0.3))

    def pick():
        if rng.random() < 0.2:
            return rng.randrange(shared)
        return rng.randrange(n_base)

    def variant(b):
        """(smiles, normalized-or-None); None marks an invalid string."""
        r = rng.random()
        s = base_smiles[b]
        if r < 0.06:
            return rng.choice(MALFORMED), None
        if r < 0.16:
            return s + rng.choice(SALTS), s
        if r < 0.24 and len(base[b].atoms) > 1 and base[b].order[1] == 1:
            return base[b].smiles(stereo=True), s
        return s, s

    valid, distinct = 0, set()
    sources = [("pubchem", "pubchem"), ("chembl", "chembl"), ("zinc", "zinc")]
    for src, kind in sources:
        d = os.path.join(out_dir, src)
        os.makedirs(d, exist_ok=True)
        recs = []
        for i in range(n_per_source):
            smiles, norm = variant(pick())
            recs.append((f"{src.upper()}{seed % 1000:03d}{i:07d}", smiles, norm))
        expect = {}
        chunks = np.array_split(np.arange(n_per_source), files_per_source)
        for f, idx in enumerate(chunks):
            if kind == "zinc":
                lines = []
                for i in idx:
                    ident, smiles, norm = recs[i]
                    lines.append(f"{smiles}\t{ident}\t{rng.randrange(100, 999)}")
                    expect[ident] = (smiles, norm)
                    if rng.random() < 0.02:
                        lines.append("")                     # blank line
                    if rng.random() < 0.02:
                        lines.append("CCC")                  # short line
                path = os.path.join(d, f"tranche_{f:03d}.txt")
                with open(path, "w") as fh:
                    fh.write("\n".join(lines) + "\n")
                continue
            id_tag, smi_tag = (("PUBCHEM_COMPOUND_CID", "PUBCHEM_OPENEYE_ISO_SMILES")
                               if kind == "pubchem" else ("ChEMBL_ID", "CANONICAL_SMILES"))
            parts = []
            for i in idx:
                ident, smiles, norm = recs[i]
                if rng.random() < 0.02:                      # no SMILES tag
                    smiles, norm = None, None
                parts.append(_sdf_record(id_tag, smi_tag, ident, smiles,
                                         [("MW_HINT", str(i))]))
                expect[ident] = ("" if smiles is None else smiles, norm)
            body = "".join(parts).encode()
            if kind == "pubchem":
                with open(os.path.join(d, f"Compound_{f:03d}.sdf.gz"), "wb") as fh:
                    fh.write(gzip.compress(body, mtime=0))
            else:
                with open(os.path.join(d, f"chembl_{f:03d}.sdf"), "wb") as fh:
                    fh.write(body)
        for ident, (smiles, norm) in expect.items():
            if norm is not None:
                valid += 1
                distinct.add(norm)
        facts["sources"][src] = {
            "records": len(expect),
            "identifiers": {k: v[0] for k, v in expect.items()},
            "normalized": {k: v[1] for k, v in expect.items()},
        }
    facts["valid"] = valid
    facts["distinct_normalized"] = len(distinct)
    facts["input_bytes"] = sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(out_dir) for f in fs)
    return facts


if __name__ == "__main__":
    import sys
    import time
    t0 = time.time()
    write_tables(catalog_tables(int(sys.argv[1]), float(sys.argv[2])), sys.argv[3])
    print(f"catalog in {time.time() - t0:.2f}s")
    t0 = time.time()
    f = molecule_corpus(int(sys.argv[1]), sys.argv[3] + "_mol", 20000, 4)
    print(f"corpus in {time.time() - t0:.2f}s valid={f['valid']} distinct={f['distinct_normalized']}")
