"""Seeded generator of a 15-table GOB snapshot pair for the BAG-H import.

``generate(out_dir, seed, n_num)`` writes two snapshots of the GOB
"ActueelEnHistorie" CSV export (semicolon, utf-8-sig, camelCase
headers, empty string = NULL, pipe-lists):

- ``v1/``: the first snapshot, loaded into an empty warehouse;
- ``v2/``: the next snapshot of the same keys. About 1% of keys gain a
  version, which closes their open version; about 2% of rows change
  one attribute (``registratiedatum``); nothing is deleted.

``n_num`` is the number of ``nummeraanduiding`` rows. Only one size is
sourced: the reference's ``nummeraanduiding`` of about 500k rows (its
``bagh/batch.py`` comment "large. 500.000"). Every other table size and
every share below (keys with a closed version, verblijfsobjecten in two
panden, address kinds, nevenadressen, planted rows, replay changes) is
an assumption, chosen to look like a city's BAG and to trip every gate;
none is measured from a GOB extract. At the anchor the assumed sizes
give about 1.4M CSV rows in all. Every table carries a fixed share of
gate-tripping rows: a Q3 bad validity range, an empty
``identificatie``, a Q6 wrong geometry type, a Q5 dangling foreign key
and a Q2 overlapping version pair. The generator knows what each of
them does to the import, so it also writes ``expected.json``: the
``TableReport`` fields per table and snapshot, the bridge row count,
and the final warehouse row count per table.

The same ``(seed, n_num)`` gives the same bytes. Row counts do not
depend on the seed, only the values do, so every seed does the same
amount of work.
"""

from __future__ import annotations

import json
import os
import random

# keys per table at 500k nummeraanduiding rows. ANCHOR_NUM is the
# reference's figure; every key count is an assumption. One key in four
# (an assumption) also has a closed earlier version, so rows = 1.25 × keys
ANCHOR_NUM = 500_000
ANCHOR_KEYS = {
    "woonplaats": 3,
    "stadsdeel": 9,
    "ggw_gebied": 22,
    "ggw_praktijkgebied": 22,
    "wijk": 100,
    "buurt": 480,
    "bouwblok": 8_000,
    "openbare_ruimte": 6_800,
    "ligplaats": 2_500,
    "standplaats": 300,
    "pand": 280_000,
    "verblijfsobject": 360_000,
    "nummeraanduiding": 400_000,
}
# assumed shares: rows planted per gate-tripping kind (at least one
# each), and the replay's keys that gain a version and rows whose
# registratiedatum changes
PLANT_SHARE = 0.002
GAIN_SHARE = 0.01
CHANGE_SHARE = 0.02

TEMPORAL = [
    "identificatie",
    "volgnummer",
    "registratiedatum",
    "beginGeldigheid",
    "eindGeldigheid",
]
DOCS = ["documentdatum", "documentnummer"]
FLAGS = ["aanduidingInOnderzoek", "geconstateerd"]

# table → (GOB prefix, geometry type or None, extra plain columns, refs)
# refs: (table, CSV column prefix); the geometry type is what the
# import expects, the generator writes that type except for Q6 rows
TABLES: dict[str, tuple[str, str | None, list[str], list[tuple[str, str]]]] = {
    "woonplaats": ("BAG", "multipolygon", ["naam", "status"] + DOCS + FLAGS, []),
    "stadsdeel": (
        "GBD", "multipolygon", ["code", "naam"] + DOCS,
        [("gemeente", "ligtIn:BRK.GME")],
    ),
    "ggw_gebied": (
        "GBD", "multipolygon", ["code", "naam"] + DOCS,
        [("stadsdeel", "ligtIn:GBD.SDL")],
    ),
    "ggw_praktijkgebied": (
        "GBD", "multipolygon", ["code", "naam"] + DOCS,
        [("stadsdeel", "ligtIn:GBD.SDL")],
    ),
    "wijk": (
        "GBD", "multipolygon", ["code", "naam", "cbsCode"] + DOCS,
        [("stadsdeel", "ligtIn:GBD.SDL"), ("ggw_gebied", "ligtIn:GBD.GGW")],
    ),
    "buurt": (
        "GBD", "multipolygon", ["code", "naam", "cbsCode"] + DOCS,
        [
            ("wijk", "ligtIn:GBD.WIJK"),
            ("ggw_gebied", "ligtIn:GBD.GGW"),
            ("stadsdeel", "ligtIn:GBD.SDL"),
        ],
    ),
    "bouwblok": ("GBD", "multipolygon", ["code"], [("buurt", "ligtIn:GBD.BRT")]),
    "openbare_ruimte": (
        "BAG", "multipolygon",
        ["naam", "naamNEN", "type", "status"] + DOCS + FLAGS,
        [("woonplaats", "ligtIn:BAG.WPS")],
    ),
    "ligplaats": (
        "BAG", "polygon", ["status"] + DOCS + FLAGS, [("buurt", "ligtIn:GBD.BRT")]
    ),
    "standplaats": (
        "BAG", "polygon", ["status"] + DOCS + FLAGS, [("buurt", "ligtIn:GBD.BRT")]
    ),
    "pand": ("BAG", "polygon", ["status", "naam"] + DOCS + FLAGS, []),
    "verblijfsobject": (
        "BAG", "point",
        ["status"] + DOCS + FLAGS + [
            "oppervlakte", "verdiepingToegang", "hoogsteBouwlaag",
            "laagsteBouwlaag", "aantalKamers", "eigendomsverhouding",
            "gebruiksdoel", "gebruiksdoelWoonfunctie",
            "gebruiksdoelGezondheidszorgfunctie", "toegang", "redenopvoer",
            "heeftIn:BAG.NAG.identificatieHoofdadres",
            "heeftIn:BAG.NAG.volgnummerHoofdadres",
            "heeftIn:BAG.NAG.identificatieNevenadres",
            "heeftIn:BAG.NAG.volgnummerNevenadres",
            "ligtIn:BAG.PND.identificatie", "ligtIn:BAG.PND.volgnummer",
        ],
        [("buurt", "ligtIn:GBD.BRT")],
    ),
    "nummeraanduiding": (
        "BAG", None,
        ["status"] + DOCS + FLAGS + [
            "huisnummer", "huisletter", "huisnummertoevoeging", "postcode",
            "typeAdres",
        ],
        [
            ("ligplaats", "adresseert:BAG.LPS"),
            ("standplaats", "adresseert:BAG.SPS"),
            ("verblijfsobject", "adresseert:BAG.VOT"),
            ("openbare_ruimte", "ligtAan:BAG.ORE"),
        ],
    ),
}
# FK dependency order, gemeente (a literal source) first
TABLE_ORDER = ["gemeente"] + list(TABLES)
KEY_PREFIX = {
    "woonplaats": "WP", "stadsdeel": "SD", "ggw_gebied": "GG",
    "ggw_praktijkgebied": "GP", "wijk": "WK", "buurt": "BU", "bouwblok": "BB",
    "openbare_ruimte": "OR", "ligplaats": "LP", "standplaats": "SP",
    "pand": "PD", "verblijfsobject": "VO", "nummeraanduiding": "NA",
}
GEMEENTE_ID = ("0363", "1")
REPLAY_BEGIN = "2024-01-01"
REPORT_FIELDS = (
    "staged_rows", "inserted", "updated", "rejected_bad_range",
    "rejected_geometry", "rejected_fk", "overlap_warnings",
)


def csv_filename(table: str) -> str:
    return f"{TABLES[table][0]}_{table}_ActueelEnHistorie.csv"


def headers(table: str) -> list[str]:
    _, geotype, extra, refs = TABLES[table]
    cols = TEMPORAL + (["geometrie"] if geotype else []) + extra
    for _, prefix in refs:
        cols += [f"{prefix}.identificatie", f"{prefix}.volgnummer"]
    return cols


def table_sizes(n_num: int) -> dict[str, int]:
    """Keys per table for ``n_num`` nummeraanduiding rows."""
    f = n_num / ANCHOR_NUM
    return {t: max(3, round(k * f)) for t, k in ANCHOR_KEYS.items()}


def n_planted(n_keys: int) -> int:
    return max(1, round(PLANT_SHARE * n_keys))


class _Geo:
    """Seeded WKT of each geometry type, in RD coordinates."""

    def __init__(self, rng: random.Random):
        self.rng = rng

    def _ring(self) -> str:
        x = self.rng.uniform(110_000, 135_000)
        y = self.rng.uniform(476_000, 500_000)
        w = self.rng.uniform(5, 60)
        h = self.rng.uniform(5, 60)
        pts = [(x, y), (x, y + h), (x + w, y + h), (x + w, y), (x, y)]
        return "(" + ", ".join(f"{a:.3f} {b:.3f}" for a, b in pts) + ")"

    def make(self, geotype: str) -> str:
        if geotype == "point":
            return (
                f"POINT({self.rng.uniform(110_000, 135_000):.3f}"
                f" {self.rng.uniform(476_000, 500_000):.3f})"
            )
        if geotype == "polygon":
            return f"POLYGON({self._ring()})"
        # multipolygon tables accept POLYGON (wrapped) and MULTIPOLYGON
        if self.rng.random() < 0.5:
            return f"POLYGON({self._ring()})"
        return f"MULTIPOLYGON(({self._ring()}))"

    def wrong(self, geotype: str) -> str:
        """A geometry the table's geotype rejects (gate Q6)."""
        return f"POLYGON({self._ring()})" if geotype == "point" else self.make("point")


def _date(rng: random.Random, lo: int, hi: int) -> str:
    return f"{rng.randint(lo, hi)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def _regdate(rng: random.Random, year: int) -> str:
    return (
        f"{year}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        f"T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
    )


class _Table:
    """Rows of one table plus the bookkeeping the expectations need."""

    def __init__(self, name: str):
        self.name = name
        self.rows: list[dict] = []  # regular + planted, in file order
        self.regular: list[int] = []  # indexes of regular rows
        self.rejected: set[int] = set()  # indexes of planted rows the gates drop
        self.keys: list[str] = []  # regular natural keys
        self.versions: dict[str, list[int]] = {}  # key → row indexes
        self.planted = dict.fromkeys(
            ("bad_range", "empty_id", "geometry", "fk", "overlap"), 0
        )


def _attrs(table: str, rng: random.Random, i: int, ref_keys) -> dict:
    """Table-specific attributes of regular key ``i``."""
    a: dict = {
        "documentdatum": _date(rng, 2005, 2022),
        "documentnummer": f"GV{rng.randint(0, 10**8):08d}",
        "aanduidingInOnderzoek": rng.choice(["J", "N", "N", "N", ""]),
        "geconstateerd": rng.choice(["J", "N", "N"]),
        "status": rng.choice(["in gebruik", "Pand in gebruik", "Naamgeving uitgegeven"]),
        "code": f"{KEY_PREFIX[table][0]}{i:05d}",
        "naam": f"{table} {i} {rng.choice(['Noord', 'Zuid', 'Oost', 'West', 'Centrum'])}",
        "cbsCode": f"CBS{i:06d}",
        "naamNEN": f"Straat {i}",
        "type": rng.choice(["Weg", "Water", "Kunstwerk", "Terrein"]),
    }
    if table == "verblijfsobject":
        doel = ["woonfunctie"] + (["kantoorfunctie"] if rng.random() < 0.3 else [])
        a.update(
            oppervlakte=str(rng.randint(15, 400)) if rng.random() < 0.97 else "abc",
            verdiepingToegang=str(rng.randint(0, 8)),
            hoogsteBouwlaag=str(rng.randint(0, 12)),
            laagsteBouwlaag=str(rng.randint(0, 2)),
            aantalKamers=str(rng.randint(1, 8)),
            eigendomsverhouding=rng.choice(["Eigendom", "Huur", ""]),
            gebruiksdoel="|".join(doel),
            gebruiksdoelWoonfunctie="woning" if rng.random() < 0.8 else "",
            gebruiksdoelGezondheidszorgfunctie="",
            toegang=rng.choice(["trap", "lift|trap", ""]),
            redenopvoer="nieuwbouw",
        )
        na = f"NA{i:08d}"
        a["heeftIn:BAG.NAG.identificatieHoofdadres"] = na
        a["heeftIn:BAG.NAG.volgnummerHoofdadres"] = "1"
        if i % 6 == 0:
            a["heeftIn:BAG.NAG.identificatieNevenadres"] = f"{na}|NB{i:08d}"
            a["heeftIn:BAG.NAG.volgnummerNevenadres"] = "1|2"
        # empty when pand is not part of the snapshot
        pands = ref_keys("pand", 2 if rng.random() < 0.3 else 1)
        a["ligtIn:BAG.PND.identificatie"] = "|".join(pands)
        a["ligtIn:BAG.PND.volgnummer"] = "|".join("1" for _ in pands)
    elif table == "nummeraanduiding":
        a.update(
            huisnummer=str(rng.randint(1, 400)),
            huisletter=rng.choice(["", "", "", "A", "B"]),
            huisnummertoevoeging=rng.choice(["", "", "1", "H", "2"]),
            postcode=f"10{rng.randint(11, 99)}{rng.choice('ABCDEFGHJK')}{rng.choice('LMNPRSTVWX')}",
            typeAdres=rng.choice(["Hoofdadres", "Nevenadres"]),
        )
    return a


def _refs(table: str, rng: random.Random, ref_keys, loaded) -> dict:
    """Valid FK columns: every reference points at version 1 of a
    regular key of the referenced table (or the gemeente literal).
    References to tables outside ``loaded`` stay empty (NULL FKs pass
    the Q5 gate unchecked)."""
    out: dict = {}
    refs = [(t, p) for t, p in TABLES[table][3] if t in loaded]
    if table == "nummeraanduiding":
        # an address belongs to exactly one object kind
        r = rng.random()
        kind = "verblijfsobject" if r < 0.97 else ("ligplaats" if r < 0.99 else "standplaats")
        refs = [(t, p) for t, p in refs if t in (kind, "openbare_ruimte")]
    for t, prefix in refs:
        if t == "gemeente":
            ident, volg = GEMEENTE_ID
        else:
            ident, volg = ref_keys(t, 1)[0], "1"
        out[f"{prefix}.identificatie"] = ident
        out[f"{prefix}.volgnummer"] = volg
    return out


def _build_v1(seed: int, n_num: int, loaded: list[str]) -> dict[str, _Table]:
    sizes = table_sizes(n_num)
    tables: dict[str, _Table] = {}

    for name in (t for t in TABLES if t in loaded):
        rng = random.Random(f"{seed}:{name}")
        geo = _Geo(rng)
        geotype = TABLES[name][1]
        tb = _Table(name)

        def ref_keys(t: str, k: int, rng=rng) -> list[str]:
            return rng.sample(tables[t].keys, k) if t in tables else []

        n = sizes[name]
        two = set(rng.sample(range(n), n // 4))  # keys with a closed version
        for i in range(n):
            key = f"{KEY_PREFIX[name]}{i:08d}"
            tb.keys.append(key)
            attrs = _attrs(name, rng, i, ref_keys)
            refs = _refs(name, rng, ref_keys, loaded)
            begins = sorted(_date(rng, 2008, 2022) for _ in range(2))
            if begins[0] == begins[1]:
                begins = ["2007-06-01", begins[1]]
            spans = [(begins[0], begins[1]), (begins[1], "")] if i in two else [(begins[1], "")]
            tb.versions[key] = []
            for v, (b, e) in enumerate(spans, start=1):
                row = {
                    "identificatie": key,
                    "volgnummer": str(v),
                    "registratiedatum": _regdate(rng, int(b[:4])),
                    "beginGeldigheid": b,
                    "eindGeldigheid": e,
                    **attrs,
                    **refs,
                }
                if geotype:
                    row["geometrie"] = geo.make(geotype)
                tb.versions[key].append(len(tb.rows))
                tb.regular.append(len(tb.rows))
                tb.rows.append(row)
        _plant(tb, rng, geo, n, loaded)
        tables[name] = tb
    return tables


def _plant(
    tb: _Table, rng: random.Random, geo: _Geo, n_keys: int, loaded: list[str]
) -> None:
    """Append the gate-tripping rows, each on a key of its own."""
    name = tb.name
    _, geotype, _, refs = TABLES[name]
    refs = [(t, p) for t, p in refs if t in loaded]
    template = tb.rows[tb.regular[0]]
    k = n_planted(n_keys)
    seq = iter(range(10**6))

    def planted(**kw) -> dict:
        row = {
            **template,
            "identificatie": f"{KEY_PREFIX[name]}X{next(seq):07d}",
            "volgnummer": "1",
            "beginGeldigheid": "2015-01-01",
            "eindGeldigheid": "",
            **kw,
        }
        if geotype and "geometrie" not in kw:
            row["geometrie"] = geo.make(geotype)
        return row

    def reject(kind: str, row: dict) -> None:
        tb.rejected.add(len(tb.rows))
        tb.rows.append(row)
        tb.planted[kind] += 1

    for _ in range(k):
        # Q3: end before begin → dropped, counted as bad range
        reject("bad_range", planted(beginGeldigheid="2019-01-01", eindGeldigheid="2018-01-01"))
        # empty identificatie → NULL key → dropped into the bad-range channel
        reject("empty_id", planted(identificatie=""))
        if geotype:
            # Q6: wrong geometry type → dropped
            reject("geometry", planted(geometrie=geo.wrong(geotype)))
        if refs:
            # Q5: the first reference dangles → dropped
            prefix = refs[0][1]
            reject("fk", planted(**{
                f"{prefix}.identificatie": f"ZZ{rng.randint(0, 10**6):07d}",
                f"{prefix}.volgnummer": "1",
            }))
        # Q2: two versions of one key whose ranges overlap → warn, both kept
        first = planted(eindGeldigheid="2016-01-01", beginGeldigheid="2010-01-01")
        second = {**first, "volgnummer": "2", "beginGeldigheid": "2014-01-01",
                  "eindGeldigheid": ""}
        if geotype:
            second["geometrie"] = geo.make(geotype)
        tb.rows += [first, second]
        tb.planted["overlap"] += 1


def _replay(seed: int, tables: dict[str, _Table]) -> dict[str, tuple[list[dict], int, int]]:
    """The next snapshot: (rows, gained, updated) per table."""
    out = {}
    for name, tb in tables.items():
        rng = random.Random(f"{seed}:{name}:replay")
        geo = _Geo(rng)
        rows = [dict(r) for r in tb.rows]
        n = len(tb.keys)
        gain = rng.sample(tb.keys, max(1, round(GAIN_SHARE * n)))
        gain_rows = {ix for key in gain for ix in tb.versions[key]}
        candidates = [ix for ix in tb.regular if ix not in gain_rows]
        change = rng.sample(candidates, max(1, round(CHANGE_SHARE * len(tb.regular))))
        for ix in change:
            rows[ix]["registratiedatum"] = _regdate(rng, 2023)
        for key in gain:
            last = rows[tb.versions[key][-1]]
            last["eindGeldigheid"] = REPLAY_BEGIN
            new = {
                **last,
                "volgnummer": str(int(last["volgnummer"]) + 1),
                "registratiedatum": _regdate(rng, 2024),
                "beginGeldigheid": REPLAY_BEGIN,
                "eindGeldigheid": "",
            }
            if TABLES[name][1]:
                new["geometrie"] = geo.make(TABLES[name][1])
            rows.append(new)
        # every closed-by-gain row changed (its end date), plus the
        # attribute changes; the two sets are disjoint by construction
        out[name] = (rows, len(gain), len(gain) + len(change))
    return out


def _expected(tb: _Table, n_rows: int, inserted: int | None, updated: int) -> dict:
    """The TableReport of one import; ``inserted=None`` means every
    staged row is new (a load into an empty warehouse)."""
    p = tb.planted
    staged = n_rows - p["bad_range"] - p["empty_id"] - p["geometry"] - p["fk"]
    return {
        "staged_rows": staged,
        "inserted": staged if inserted is None else inserted,
        "updated": updated,
        "rejected_bad_range": p["bad_range"] + p["empty_id"],
        "rejected_geometry": p["geometry"],
        "rejected_fk": p["fk"],
        "overlap_warnings": p["overlap"],
    }


def _bridge_rows(tb: _Table, rows: list[dict]) -> int:
    """Bridge rows of the accepted VBO rows: one per pand id. Planted
    reject rows never reach the bridge; the planted overlap pair does.
    Replay rows keep their snapshot-1 positions, new versions follow."""
    return sum(
        len(r["ligtIn:BAG.PND.identificatie"].split("|"))
        for i, r in enumerate(rows)
        if i not in tb.rejected
    )


def _write(path: str, cols: list[str], rows: list[dict]) -> int:
    lines = [";".join(cols)]
    lines += [";".join(r.get(c, "") for c in cols) for r in rows]
    data = ("\n".join(lines) + "\n").encode("utf-8-sig")
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def generate(
    out_dir: str,
    seed: int,
    n_num: int,
    tables: list[str] | None = None,
    replay: bool = True,
) -> dict:
    """Write ``v1/``, ``v2/`` (unless ``replay`` is false) and
    ``expected.json`` under ``out_dir``; returns the expectations.
    ``tables`` limits the snapshot to a subset of ``TABLE_ORDER``
    (default: all 15); references to tables outside it are left empty.
    The first snapshot does not depend on ``replay``."""
    loaded = list(TABLE_ORDER if tables is None else tables)
    built = _build_v1(seed, n_num, loaded)
    v2 = _replay(seed, built) if replay else {}
    exp: dict = {"seed": seed, "n_num": n_num, "tables": loaded}
    gem = dict.fromkeys(REPORT_FIELDS, 0)
    for snap, key in (("v1", "load"), ("v2", "replay"))[: 1 + replay]:
        d = os.path.join(out_dir, snap)
        os.makedirs(d, exist_ok=True)
        reports: dict = {}
        if "gemeente" in loaded:
            reports["gemeente"] = {**gem, "staged_rows": 1, "inserted": int(key == "load")}
        rows_by_table: dict[str, int] = {}
        bytes_total = 0
        vbo_rows: list[dict] = []  # this snapshot's VBO rows
        for name, tb in built.items():
            rows, inserted, updated = (tb.rows, None, 0) if key == "load" else v2[name]
            bytes_total += _write(os.path.join(d, csv_filename(name)), headers(name), rows)
            rows_by_table[name] = len(rows)
            reports[name] = _expected(tb, len(rows), inserted, updated)
            if name == "verblijfsobject":
                vbo_rows = rows
        bridge = (
            _bridge_rows(built["verblijfsobject"], vbo_rows)
            if {"pand", "verblijfsobject"} <= built.keys()
            else 0
        )
        exp[key] = reports
        exp[f"{key}_bridge_rows"] = bridge
        exp[f"{key}_csv_rows"] = sum(rows_by_table.values())
        exp[f"{key}_csv_rows_by_table"] = rows_by_table
        exp[f"{key}_csv_bytes"] = bytes_total
        # tables outside the snapshot stay empty (or are never written)
        exp[f"{key}_final_rows"] = {
            **{t: reports.get(t, {}).get("staged_rows", 0) for t in TABLE_ORDER},
            "verblijfsobjectpandrelatie": bridge,
        }
    with open(os.path.join(out_dir, "expected.json"), "w") as fh:
        json.dump(exp, fh, indent=1, sort_keys=True)
    return exp
