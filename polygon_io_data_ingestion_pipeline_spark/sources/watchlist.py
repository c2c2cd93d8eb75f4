"""Ticker-universe (watchlist) loading.

Reference: src/polygon_ingest/ingest.py:457-464 (JSON list or
line-per-ticker text, case-folded) and
scripts/build_index_universes.py:36-49 (universe union + dedup).
Watchlists are tiny control data: loaded driver-side, applied as a
broadcast ``isin`` filter.
"""

from __future__ import annotations

import json
from pathlib import Path


def load_watchlist(path: str | Path) -> set[str]:
    """JSON array or one-symbol-per-line text -> uppercased set."""
    text = Path(path).read_text()
    try:
        symbols = json.loads(text)
        if not isinstance(symbols, list):
            raise ValueError("watchlist JSON must be a list")
    except json.JSONDecodeError:
        symbols = [line for line in text.splitlines() if line.strip()]
    return {str(s).strip().upper() for s in symbols if str(s).strip()}


def scrape_index_universe(html_path: str | Path, symbol_header: str = "Symbol") -> list[str]:
    """Constituent tickers from a saved HTML constituents page — the
    reference's ``pd.read_html`` scrape (build_index_universes.py:33-44)
    as a file-based shim (this container is offline; point it at a
    downloaded page). Stdlib HTML parsing: finds the first table whose
    header row contains ``symbol_header`` and returns that column,
    first-token-split and uppercased like the reference."""
    from html.parser import HTMLParser

    class _Tables(HTMLParser):
        def __init__(self) -> None:
            super().__init__()
            self.tables: list[list[list[str]]] = []
            self._row: list[str] | None = None
            self._cell: list[str] | None = None

        def handle_starttag(self, tag, attrs):
            if tag == "table":
                self.tables.append([])
            elif tag == "tr" and self.tables:
                self._row = []
            elif tag in ("td", "th") and self._row is not None:
                self._cell = []

        def handle_endtag(self, tag):
            if tag == "tr" and self._row is not None and self.tables:
                self.tables[-1].append(self._row)
                self._row = None
            elif tag in ("td", "th") and self._cell is not None and self._row is not None:
                self._row.append("".join(self._cell).strip())
                self._cell = None

        def handle_data(self, data):
            if self._cell is not None:
                self._cell.append(data)

    parser = _Tables()
    parser.feed(Path(html_path).read_text())
    for rows in parser.tables:
        if not rows:
            continue
        header = rows[0]
        if symbol_header in header:
            idx = header.index(symbol_header)
            out = []
            for row in rows[1:]:
                if idx < len(row) and row[idx].strip():
                    out.append(row[idx].split()[0].strip().upper())
            return sorted(dict.fromkeys(out))
    raise ValueError(f"no table with column {symbol_header!r} in {html_path}")


def union_universes(*universes: set[str]) -> list[str]:
    """SPX ∪ NDX-style union, order-stable (build_index_universes.py:47)."""
    return sorted(set().union(*universes))
