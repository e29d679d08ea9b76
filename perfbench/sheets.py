"""Seeded AIHW-shaped wide sheets and the model of what loading them yields.

Each refresh batch is one fiscal year's workbook: three valid sheets with
different dimension sets and one invalid sheet. The raw cells carry the
quirks the reference's ingest has to handle (the same ones as
``sources/fixtures.py``): junk preamble rows, empty header cells that
pandas names ``Unnamed: N``, a ``Total`` helper column, state headers in
mixed spellings, tuple-artifact and quoted dimension cells, ``n.p.`` /
``—`` / blank numerics, rows without a first id, ragged rows and missing
secondary ids (which the reference turns into the literal ``"nan"``).

The generator builds every cell from a clean value, so it knows the tidy
records the ingest must produce without running any of the package's
parsing code. :class:`TableModel` replays keyed upserts on those records
and answers the dashboard reads the benchmark checks.
"""

from __future__ import annotations

import itertools

import numpy as np

STATES = ["NSW", "VIC", "QLD", "SA", "WA", "TAS", "NT", "ACT", "AUST"]
DIMS = ["category", "principal_diagnosis", "care_type", "hospital_type", "sex"]
CATEGORIES = [
    "Injury", "Cancer", "Mental health", "Circulatory", "Respiratory",
    "Digestive", "Musculoskeletal", "Pregnancy", "Nervous system", "Kidney",
    "Skin", "Infections",
]
# ICD-10 chapter letter of each category: its principal diagnoses are
# four-character codes under that letter (S00.0 .. S99.9), 1,000 each.
_CHAPTER = "SCFIJKMOGNLA"
_CARE = ["Acute", "Sub-acute", "Mental health care"]
_HOSPITAL = ["Public", "Private"]
_SEX = ["Male", "Female"]
_JUNK = ["n.p.", "—", "", "n/a", "x"]

# (header cells of the id columns, id column names after ingest, state
# header spellings) per valid sheet. Secondary ids come from these lists.
_TEMPLATES = [
    (["", "", "Care type", "Total"], ["category", "principal_diagnosis", "care_type"],
     ["N.S.W.", "Vic", "Qld", "SA", "WA", "Tas", "NT", "ACT", "AUST"]),
    (["", "Hospital type"], ["category", "hospital_type"],
     ["NSW", "VIC", "QLD", "SA", "WA"]),
    (["", "", "Sex"], ["category", "principal_diagnosis", "sex"],
     ["nsw", "Qld", "Vic", "NT", "ACT", "TAS"]),
]
_SECONDARY = {"care_type": _CARE, "hospital_type": _HOSPITAL, "sex": _SEX}


def _norm_state(cell: str) -> str:
    return "".join(ch for ch in cell.upper() if "A" <= ch <= "Z")


def _dirty(rng: np.random.Generator, value: str) -> str:
    """A raw cell that the reference's clean-text step maps back to ``value``."""
    k = int(rng.integers(0, 8))
    if k == 0:
        return f'("{value}", 1.0)'
    if k == 1:
        return f"{value}, 2.0"
    if k == 2:
        return f'"{value}"'
    if k == 3:
        return f"  {value} "
    return value


class Batch:
    """One year's workbook: ``sheets`` as (rows, year) pairs, ready for
    ``compile_sheets``, and ``records``, the tidy rows it must yield as
    ``(dims tuple over DIMS, state, separations)``."""

    def __init__(self, seed: int, cycle: int, year: int, diag_per_category: int):
        self.year = year
        rng = np.random.default_rng([seed, 7, cycle])
        # Row keys depend on the seed only, so every batch of a year hits
        # the same keys and the merged table stops growing.
        key_rng = np.random.default_rng([seed, 11])
        self.sheets: list[tuple[list[list], int]] = []
        self.records: list[tuple[tuple, str, float]] = []
        for header_ids, id_names, state_headers in _TEMPLATES:
            keys = self._keys(key_rng, id_names, diag_per_category)
            self.sheets.append((self._sheet(rng, header_ids, id_names, state_headers, keys), year))
        self.sheets.insert(int(rng.integers(0, 4)), (self._invalid(rng), year))

    @staticmethod
    def _keys(rng, id_names, diag_per_category):
        secondary = [n for n in id_names[1:] if n != "principal_diagnosis"]
        keys = []
        for cat, letter in zip(CATEGORIES, _CHAPTER):
            diags = (
                [f"{letter}{int(k) // 10:02d}.{int(k) % 10}"
                 for k in rng.choice(1000, diag_per_category, replace=False)]
                if "principal_diagnosis" in id_names else [None]
            )
            for diag in diags:
                for combo in itertools.product(*[_SECONDARY[n] for n in secondary]):
                    keys.append((cat, diag, dict(zip(secondary, combo))))
        return keys

    def _sheet(self, rng, header_ids, id_names, state_headers, keys):
        year = self.year
        rows: list[list] = [[f"Admitted patient care {year - 1}-{str(year)[2:]}", None]]
        if rng.random() < 0.5:
            rows.append([None, "Source: AIHW National Hospital Morbidity Database"])
        rows.append(["Separations by state", "", None])
        rows.append([*header_ids, *state_headers])
        has_total = "Total" in header_ids
        states = [_norm_state(h) for h in state_headers]
        body = list(keys) + [keys[int(i)] for i in rng.integers(0, len(keys), len(keys) // 10)]
        for idx in rng.permutation(len(body)):
            cat, diag, secondary = body[int(idx)]
            ids = {"category": cat, "principal_diagnosis": diag, **secondary}
            if "principal_diagnosis" in id_names and rng.random() < 0.03:
                ids["principal_diagnosis"] = None  # ingest yields "nan"
            drop_row = rng.random() < 0.02  # no first id: the row is dropped
            raw_ids = [None if drop_row else _dirty(rng, cat)]
            raw_ids += [ids[n] for n in id_names[1:]]
            values = rng.integers(0, 5000, len(states))
            cells, kept = [], []
            for st, v in zip(states, values):
                r = rng.random()
                if r < 0.08:
                    cells.append(_JUNK[int(rng.integers(0, len(_JUNK)))])
                elif r < 0.12:
                    cells.append(f" {int(v)} ")
                    kept.append((st, float(v)))
                else:
                    cells.append(str(int(v)))
                    kept.append((st, float(v)))
            total = [str(int(values.sum()))] if has_total else []
            row = [*raw_ids, *total, *cells]
            if rng.random() < 0.05:  # ragged: trailing cells missing
                cut = int(rng.integers(1, 3))
                row = row[:-cut]
                kept = [(st, v) for st, v in kept if st not in states[len(states) - cut:]]
            rows.append(row)
            if drop_row:
                continue
            dims = tuple(
                ("nan" if ids[d] is None else ids[d]) if d in id_names else None
                for d in DIMS
            )
            self.records.extend((dims, st, v) for st, v in kept)
        return rows

    @staticmethod
    def _invalid(rng):
        return [["Notes", "see", "appendix"], ["a", "b", str(int(rng.integers(0, 99)))]]


def clean_rows(records) -> dict[tuple, float]:
    """The staging→clean aggregation: missing dims filled with ``""``,
    separations summed per (state, dims)."""
    out: dict[tuple, float] = {}
    for dims, st, v in records:
        key = (st, tuple("" if d is None else d for d in dims))
        out[key] = out.get(key, 0.0) + v
    return out


class TableModel:
    """Keyed-upsert replay of the merged table: ``{year: {key: value}}``."""

    def __init__(self):
        self.years: dict[int, dict[tuple, float]] = {}

    def merge(self, year: int, clean: dict[tuple, float]) -> None:
        self.years.setdefault(year, {}).update(clean)

    def key_count(self) -> int:
        return sum(len(v) for v in self.years.values())

    def total(self) -> float:
        return sum(sum(v.values()) for v in self.years.values())

    def _rows(self, sel: dict[str, list]):
        for year, part in self.years.items():
            if year not in sel["year"]:
                continue
            for (st, dims), v in part.items():
                if st in sel["state"] and dims[0] in sel["category"]:
                    yield year, st, dims[0], v

    def category_top10(self, sel) -> tuple[list[str], list[tuple]]:
        sums: dict[str, float] = {}
        for _, _, cat, v in self._rows(sel):
            sums[cat] = sums.get(cat, 0.0) + v
        top = sorted(sums.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        return ["category", "separations"], top

    def widget_cube(self, sel) -> tuple[list[str], list[tuple]]:
        """Every grouping set of (year, state, category) with its
        ``grouping_id`` (bit set = column rolled up)."""
        sums: dict[tuple, float] = {}
        for year, st, cat, v in self._rows(sel):
            full = (year, st, cat)
            for mask in range(8):
                key = tuple(None if mask >> (2 - i) & 1 else full[i] for i in range(3)) + (mask,)
                sums[key] = sums.get(key, 0.0) + v
        rows = [(y, s, c, v, g) for (y, s, c, g), v in sums.items()]
        return ["year", "state", "category", "separations", "grain"], rows
