"""Expected results of the library basket: runs each entry's
``oracle_sql()`` on DuckDB over the generated tables and writes
``{entry: [columns, rows]}`` as JSON. It runs in its own process after the
engine's timed window, so DuckDB's memory never counts as the engine's.

    python3 perfbench/oracle.py <data_dir> <out.json> <entry>...
"""

from __future__ import annotations

import json
import sys

import sqlcheck


def main() -> None:
    data_dir, out, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    import __spark_entry__ as entrymod
    from library import TABLES, sorted_cols

    oracles = entrymod.oracle_sql()
    con = sqlcheck.duckdb_conn(data_dir, TABLES)
    expected = {
        name: sqlcheck.canon(*sorted_cols(*sqlcheck.duckdb_rows(con, oracles[name])))
        for name in names
        if name in oracles
    }
    with open(out, "w") as f:
        json.dump(expected, f)


if __name__ == "__main__":
    main()
