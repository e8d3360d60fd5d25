"""Seeded `.pol` fleet generator and the reference KPI math the checks use.

A fleet is a directory laid out like the reference's repository:

    <root>/game_id_to_pools.xlsx               lookup dimension (shared strings)
    <root>/samples/pools2/<nested folders>/Pool_<id>_<type>.pol
    <root>/samples/pools2/.git/...             .pol files that must be excluded
    <root>/samples/pools2/Meta_data/...        .pol files that must be excluded
    <root>/manifest.json                       expected record per pool file

Every pool holds ~30 distinct prizes written as ``<win> <type code>`` or
``<base> <type code> <add-on>`` lines (the parser adds an integer third
token), plus a few invalid lines. One file is latin-1 encoded, one is zero
bytes. The same seed gives the same bytes.
"""

from __future__ import annotations

import json
import math
import zipfile
from collections import Counter
from pathlib import Path
from xml.sax.saxutils import escape

import numpy as np

SCAN_SUBDIR = "samples/pools2"
POOL_TYPES = ("941", "395", "50010", "40250", "1200", "7")
TYPE_CODES = ("N", "F", "B")
ADD_ONS = (5, 10, 50)
INVALID_LINES = ("", "# pool export v2", "WIN TYPE", "n/a N", "12x B")
BETS = (10.0, 20.0, 25.0, 40.0, 50.0, 100.0)
N_PRIZES = 30
# latin-1 header byte sequence; invalid as UTF-8, skipped by both parsers
LATIN1_HEADER = "# Prämie Gewinn\n".encode("latin-1")
Z_90_CI = 1.645


class Pool:
    """One generated pool file: its path and the histogram it was drawn from."""

    def __init__(self, rel: str, pool_id: str, pool_type: str):
        self.rel = rel
        self.pool_id = pool_id
        self.pool_type = pool_type
        self.wins: Counter = Counter()
        self.invalid = 0
        self.encoding = "utf-8"


def _pool_lines(rng: np.random.Generator, n_lines: int, pool: Pool) -> list[str]:
    """Draw ``n_lines`` lines for ``pool`` and record its histogram."""
    bet = float(rng.choice(BETS))
    multipliers = np.unique(rng.integers(1, 400, size=N_PRIZES * 2))[: N_PRIZES - 1]
    prizes = [0] + [int(m * bet // 2) for m in multipliers]
    weights = np.concatenate(([rng.uniform(0.55, 0.8)], rng.dirichlet(np.ones(len(prizes) - 1))))
    weights[1:] *= 1.0 - weights[0]
    templates: list[tuple[str, int | None]] = []
    for win in prizes:
        code = TYPE_CODES[int(rng.integers(len(TYPE_CODES)))]
        add_on = ADD_ONS[int(rng.integers(len(ADD_ONS)))]
        if win > add_on and rng.random() < 0.3:
            templates.append((f"{win - add_on} {code} {add_on}", win))
        else:
            templates.append((f"{win} {code}", win))
    n_invalid = int(rng.integers(0, 4))
    counts = rng.multinomial(n_lines - n_invalid, weights)
    for (_, win), c in zip(templates, counts):
        if c:
            pool.wins[win] += int(c)
    invalid = [INVALID_LINES[int(i)] for i in rng.integers(len(INVALID_LINES), size=n_invalid)]
    pool.invalid = n_invalid
    idx = np.repeat(np.arange(len(templates)), counts)
    rng.shuffle(idx)
    texts = np.array([t for t, _ in templates], dtype=object)[idx].tolist()
    # invalid lines go to the head (header-like) and to random places
    for j, line in enumerate(invalid):
        texts.insert(0 if j == 0 else int(rng.integers(len(texts) + 1)), line)
    return texts


def generate(
    root: str | Path, seed: int, n_pools: int, lines_per_pool: int, depth: int
) -> dict:
    """Write a fleet of ``n_pools`` pool files under ``root`` and return its
    manifest (also written to ``root/manifest.json``). ``depth`` is the
    number of nested folder levels pools are spread over."""
    rng = np.random.default_rng(seed)
    root = Path(root)
    scan = root / SCAN_SUBDIR
    scan.mkdir(parents=True, exist_ok=True)
    n_ids = max(4, n_pools // 3)
    ids = [f"{i:04d}" for i in sorted(rng.choice(9000, size=n_ids, replace=False) + 100)]
    pools: list[Pool] = []
    used: set[str] = set()
    for k in range(n_pools):
        pool_id = ids[int(rng.integers(n_ids))]
        pool_type = POOL_TYPES[int(rng.integers(len(POOL_TYPES)))]
        parts = [f"g{int(rng.integers(4))}" for _ in range(depth)] if depth else []
        name = f"Pool_{pool_id}_{pool_type}.pol"
        rel = "/".join([*parts, name])
        while rel in used:
            parts.append(f"d{k}")
            rel = "/".join([*parts, name])
        used.add(rel)
        pools.append(Pool(rel, pool_id, pool_type))
    latin1 = 1 % n_pools
    for k, pool in enumerate(pools):
        body = "\n".join(_pool_lines(rng, lines_per_pool, pool)) + "\n"
        data = body.encode("utf-8")
        if k == latin1:
            data = LATIN1_HEADER + data
            pool.invalid += 1
            pool.encoding = "latin-1"
        _write(scan / pool.rel, data)

    zero = Pool("zero/Pool_0001_941.pol", "0001", "941")
    _write(scan / zero.rel, b"")
    pools.append(zero)
    for excluded in (".git/objects/Pool_0002_941.pol", "Meta_data/Pool_0003_941.pol"):
        _write(scan / excluded, b"500 N\n0 N\n")

    # lookup: ~5% of ids are misses; some ids carry two games (first row's
    # bet is the one the reference uses)
    dim_rows: list[tuple[str, str, str, float]] = []
    for pool_id in ids:
        if rng.random() < 0.05:
            continue
        for g in range(1 + int(rng.random() < 0.2)):
            dim_rows.append(
                (f"Game{int(rng.integers(50))}", str(1000 + int(rng.integers(9000))), pool_id,
                 float(rng.choice(BETS)))
            )
    write_xlsx(root / "game_id_to_pools.xlsx", ("Game", "Game_id", "Pool_id", "Bet"), dim_rows)

    manifest = {
        "seed": seed,
        "scan_subdir": SCAN_SUBDIR,
        "excluded": [".git/objects/Pool_0002_941.pol", "Meta_data/Pool_0003_941.pol"],
        "dim": dim_rows,
        "pools": [pool_entry(p) for p in pools],
    }
    (root / "manifest.json").write_text(json.dumps(manifest))
    return manifest


def pool_entry(pool: Pool) -> dict:
    return {
        "rel": pool.rel,
        "pool_id": pool.pool_id,
        "pool_type": pool.pool_type,
        "wins": sorted(pool.wins.items()),
        "invalid": pool.invalid,
        "encoding": pool.encoding,
    }


def rewrite_pool(root: str | Path, entry: dict, rng: np.random.Generator, n_lines: int) -> dict:
    """Replace one pool file's content in place (new histogram, new mtime)
    and return its new manifest entry."""
    pool = Pool(entry["rel"], entry["pool_id"], entry["pool_type"])
    body = "\n".join(_pool_lines(rng, n_lines, pool)) + "\n"
    path = Path(root) / SCAN_SUBDIR / pool.rel
    _write(path, body.encode("utf-8"))
    return pool_entry(pool)


def add_pool(root: str | Path, rel: str, rng: np.random.Generator, n_lines: int) -> dict:
    stem = rel.rsplit("/", 1)[-1][: -len(".pol")]
    _, pool_id, pool_type = stem.split("_")
    return rewrite_pool(root, {"rel": rel, "pool_id": pool_id, "pool_type": pool_type}, rng, n_lines)


def _write(path: Path, data: bytes) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(data)


def write_xlsx(path: Path, header: tuple[str, ...], rows: list[tuple]) -> None:
    """Minimal single-sheet xlsx. Strings are shared strings (``t="s"`` with
    a ``<v>`` index), numbers plain ``<v>`` cells, every cell carries its
    ``r`` reference: the form the product's stdlib xlsx reader parses."""
    shared: dict[str, int] = {}

    def cell(ref: str, value) -> str:
        if isinstance(value, str):
            idx = shared.setdefault(value, len(shared))
            return f'<c r="{ref}" t="s"><v>{idx}</v></c>'
        return f'<c r="{ref}"><v>{value!r}</v></c>'

    sheet_rows = []
    for r, values in enumerate([header, *rows], start=1):
        cells = "".join(cell(f"{chr(65 + c)}{r}", v) for c, v in enumerate(values))
        sheet_rows.append(f'<row r="{r}">{cells}</row>')
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel_ns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    pkg = "http://schemas.openxmlformats.org/package/2006"
    off = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    sst = "".join(f"<si><t>{escape(s)}</t></si>" for s in shared)
    files = {
        "[Content_Types].xml": (
            f'<Types xmlns="{pkg}/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
            "</Types>"
        ),
        "_rels/.rels": (
            f'<Relationships xmlns="{pkg}/relationships">'
            f'<Relationship Id="rId1" Type="{off}/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"
        ),
        "xl/workbook.xml": (
            f'<workbook {ns} {rel_ns}><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            f'<Relationships xmlns="{pkg}/relationships">'
            f'<Relationship Id="rId1" Type="{off}/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{off}/sharedStrings" Target="sharedStrings.xml"/>'
            "</Relationships>"
        ),
        "xl/worksheets/sheet1.xml": f'<worksheet {ns}><sheetData>{"".join(sheet_rows)}</sheetData></worksheet>',
        "xl/sharedStrings.xml": f'<sst {ns} count="{len(shared)}" uniqueCount="{len(shared)}">{sst}</sst>',
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in files.items():
            info = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            z.writestr(info, '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>' + text)


# --- reference semantics --------------------------------------------------


def _round(x: float, nd: int) -> float:
    """numpy's round-half-even, as the reference's pandas math rounds."""
    return float(np.round(x, nd))


def lookup(dim_rows: list) -> dict[str, tuple[float, list[str]]]:
    """Reference lookup (exact pool-id match): first row's bet, all game ids
    in source order. The generator writes every id as 4 digits, so the
    reference's zero-padding fallbacks never change a match."""
    out: dict[str, tuple[float, list[str]]] = {}
    for _game, game_id, pool_id, bet in dim_rows:
        if pool_id in out:
            out[pool_id][1].append(game_id)
        else:
            out[pool_id] = (bet, [game_id])
    return out


def classify(pool_type: str | None) -> tuple[list[str], int, str | None]:
    """(tag, is_flat, max_multiplier) per the reference's classifier."""
    if not pool_type:
        return ["UNKNOWN"], 0, None
    if pool_type == "395":
        tag = ["GAB", "PFB"]
    elif len(pool_type) > 4 and pool_type.startswith("5"):
        tag = ["PFB"]
    else:
        tag = ["REG"]
    flat = len(pool_type) > 4 and pool_type.startswith("4")
    return tag, int(flat), pool_type[-4:] if flat else None


def expected_record(entry: dict, dims: dict[str, tuple[float, list[str]]]) -> dict:
    """The reference's output record for one manifest entry."""
    wins = [(int(w), int(c)) for w, c in entry["wins"]]
    n = sum(c for _, c in wins)
    bet, game_ids = dims.get(entry["pool_id"], (None, []))
    rtp = hit = vol = mwf = None
    if bet is not None and bet > 0 and n > 0:
        total = sum(w * c for w, c in wins)
        rtp = _round(total / (n * bet) * 100, 2)
        hit = _round(sum(c for w, c in wins if w > 0) / n * 100, 2)
        var = sum(_round((c / n) * (w / bet - rtp / 100) ** 2, 4) for w, c in wins)
        vol = _round(Z_90_CI * math.sqrt(var), 2)
        mwf = max(w for w, _ in wins) / bet
    tag, flat, mult = classify(entry["pool_type"])
    rel = entry["rel"]
    return {
        "pool_name": rel.rsplit("/", 1)[-1],
        "pool_id": entry["pool_id"],
        "pool_type": entry["pool_type"],
        "game_ids": game_ids if bet is not None else [],
        "min_bet": bet,
        "max_win_factor": mwf,
        "rtp": rtp,
        "volatility": vol,
        "is_flat": flat,
        "tag": tag,
        "size": n,
        "max_multiplier": mult,
        "source_file": rel,
        "folder_path": rel.rsplit("/", 1)[0] if "/" in rel else "root",
        "hit_frequency": hit,
    }

