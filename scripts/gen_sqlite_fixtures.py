#!/usr/bin/env python3
"""Regenerate the binary SQLite test fixtures under src/test/resources/.

Two files, both committed (small, deterministic):

- forestation_subset.db: the byte-for-byte SQLite twin of
  forestation_subset.sql (executescript of the dump). SqliteFileSpec
  opens BOTH through their respective readers and asserts identical
  schemas and row sets — the ".db matches its .dump" integration proof.

- sqlite_edge_cases.db: adversarial page/record structure for the pure-JVM
  reader: 512-byte pages, an INTEGER PRIMARY KEY rowid alias, every integer
  serial-type width (1/2/3/4/6/8 bytes + the 0/1 constants), floats, NULLs,
  unicode + empty text, blobs (empty / binary / all-256-bytes), a ~60 KB
  text payload that spills across an overflow-page chain, and enough rows
  (5000) to force interior b-tree pages at 512-byte page size.

Run from the repo root: python3 scripts/gen_sqlite_fixtures.py
"""
import os
import sqlite3

RES = os.path.join(os.path.dirname(__file__), "..", "src", "test", "resources")


def gen_forestation():
    path = os.path.join(RES, "forestation_subset.db")
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    with open(os.path.join(RES, "forestation_subset.sql")) as f:
        con.executescript(f.read())
    con.commit()
    con.close()
    print(f"wrote {path} ({os.path.getsize(path)} bytes)")


def gen_edge_cases():
    path = os.path.join(RES, "sqlite_edge_cases.db")
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    cur = con.cursor()
    cur.execute("PRAGMA page_size = 512")
    cur.execute("""CREATE TABLE typed (
        id INTEGER PRIMARY KEY,
        i INTEGER,
        r REAL,
        t TEXT,
        b BLOB
    )""")
    rows = [
        (1, 0, 0.0, "", b""),
        (2, 1, 1.5, "plain ascii", b"\x00\x01\x02"),
        (3, -1, -2.25, "unicodé ✓ \U0001f600", bytes(range(256))),
        (4, 127, 3.141592653589793, "tab\tnewline\nquote'", None),
        (5, -128, -0.0, None, b"\xff\xfe"),
        (6, 32767, 1e308, "x", b"x"),
        (7, -32768, -1e-300, "y", None),
        (8, 8388607, 2.0, None, None),
        (9, -8388608, None, "z", None),
        (10, 2147483647, None, None, None),
        (11, -2147483648, 0.5, "w", b"w"),
        (12, 140737488355327, 0.25, "48bit", None),       # 6-byte int
        (13, -140737488355328, 0.125, "-48bit", None),
        (14, 9223372036854775807, None, "max", None),      # 8-byte int
        (15, -9223372036854775808, None, "min", None),
        (16, None, None, None, None),                      # all-NULL payload
    ]
    cur.executemany("INSERT INTO typed VALUES (?,?,?,?,?)", rows)
    # overflow chain: one ~60 KB text value at 512-byte pages spans >100
    # overflow pages
    big_text = ("abcdefghij" * 6000) + "END"
    cur.execute("CREATE TABLE overflow (k INTEGER PRIMARY KEY, payload TEXT)")
    cur.execute("INSERT INTO overflow VALUES (1, ?)", (big_text,))
    cur.execute("INSERT INTO overflow VALUES (2, 'small')")
    # interior pages: 5000 rows at 512-byte pages = a multi-level table tree
    cur.execute("CREATE TABLE many (n INTEGER PRIMARY KEY, sq INTEGER, txt TEXT)")
    cur.executemany("INSERT INTO many VALUES (?,?,?)",
                    [(n, n * n, f"row-{n}") for n in range(1, 5001)])
    # ALTER TABLE ADD COLUMN: rows 1-2 predate the new columns, so their
    # on-disk records are SHORT and readers must serve the DDL DEFAULTs
    # (7 / 'it''s' / NULL), exactly as SQLite does — not NULL across the
    # board. Row 3 is inserted after and stores all five values.
    cur.execute("CREATE TABLE altered (a INTEGER, t TEXT)")
    cur.executemany("INSERT INTO altered VALUES (?,?)",
                    [(1, "one"), (2, "two")])
    cur.execute("ALTER TABLE altered ADD COLUMN d INTEGER DEFAULT 7")
    cur.execute("ALTER TABLE altered ADD COLUMN s TEXT DEFAULT 'it''s'")
    cur.execute("ALTER TABLE altered ADD COLUMN n REAL")
    cur.execute("INSERT INTO altered VALUES (3, 'three', 30, 'later', 2.5)")
    con.commit()
    con.close()
    print(f"wrote {path} ({os.path.getsize(path)} bytes)")


def gen_pk_forms():
    """Every rowid-alias declaration shape plus the documented exceptions
    (sqlite.org/lang_createtable.html#rowid), with inserted values chosen
    so an alias mistake is VISIBLE: ids never equal what the rowid would
    be if the reader confused the two."""
    path = os.path.join(RES, "sqlite_pk_forms.db")
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    cur = con.cursor()
    # alias via table-level constraint
    cur.execute("CREATE TABLE t_table_pk (id INTEGER, v TEXT, PRIMARY KEY(id))")
    cur.executemany("INSERT INTO t_table_pk VALUES (?,?)",
                    [(100, "a"), (205, "b")])
    # alias with intervening NOT NULL
    cur.execute("CREATE TABLE t_nn_pk (id INTEGER NOT NULL PRIMARY KEY, v TEXT)")
    cur.executemany("INSERT INTO t_nn_pk VALUES (?,?)", [(300, "c"), (41, "d")])
    # the documented NON-alias exception: column-level PRIMARY KEY DESC
    cur.execute("CREATE TABLE t_desc_pk (id INTEGER PRIMARY KEY DESC, v TEXT)")
    cur.executemany("INSERT INTO t_desc_pk VALUES (?,?)", [(500, "e"), (77, "f")])
    # NON-alias: type INT (integer AFFINITY but not the exact word INTEGER)
    cur.execute("CREATE TABLE t_int_pk (id INT PRIMARY KEY, v TEXT)")
    cur.executemany("INSERT INTO t_int_pk VALUES (?,?)", [(900, "g"), (13, "h")])
    # alias via NAMED table constraint (the ORM/SQLAlchemy shape) and via
    # decorated single-column forms (AUTOINCREMENT / COLLATE / DESC are
    # all aliases in the TABLE-constraint position)
    cur.execute("CREATE TABLE t_named_pk (id INTEGER, v TEXT, "
                "CONSTRAINT pk PRIMARY KEY (id))")
    cur.executemany("INSERT INTO t_named_pk VALUES (?,?)",
                    [(600, "i"), (42, "j")])
    cur.execute("CREATE TABLE t_auto_pk (id INTEGER, v TEXT, "
                "PRIMARY KEY(id AUTOINCREMENT))")
    cur.executemany("INSERT INTO t_auto_pk VALUES (?,?)", [(700, "k")])
    cur.execute("CREATE TABLE t_tdesc_pk (id INTEGER, v TEXT, "
                "PRIMARY KEY(id DESC))")
    cur.executemany("INSERT INTO t_tdesc_pk VALUES (?,?)", [(800, "l")])
    # a string containing 'primary key' inside a CHECK must not fake an
    # alias on the INTEGER column next to it
    cur.execute("CREATE TABLE t_check_str (name TEXT PRIMARY KEY, "
                "kind INTEGER CHECK (name <> 'primary key'))")
    cur.executemany("INSERT INTO t_check_str VALUES (?,?)",
                    [("x", 55), ("y", 66)])
    # STRICT-only table options: ordinary rowid layout, must read fine
    cur.execute("CREATE TABLE t_strict (k TEXT, v INTEGER) STRICT")
    cur.executemany("INSERT INTO t_strict VALUES (?,?)", [("s1", 1), ("s2", 2)])
    # defaults: exponent form is REAL 100000.0; a CHECK clause containing
    # the text 'DEFAULT 9' must NOT be parsed as a default
    cur.execute("CREATE TABLE t_defaults (a INTEGER)")
    cur.execute("INSERT INTO t_defaults VALUES (1)")
    cur.execute("ALTER TABLE t_defaults ADD COLUMN r REAL DEFAULT 1e5")
    cur.execute("ALTER TABLE t_defaults ADD COLUMN s TEXT "
                "CHECK (s IS NULL OR s <> 'DEFAULT 9')")
    cur.execute("INSERT INTO t_defaults VALUES (2, 2.5, 'x')")
    con.commit()
    con.close()
    print(f"wrote {path} ({os.path.getsize(path)} bytes)")

    # strict + without rowid table options in combination (3.37+)
    p2 = os.path.join(RES, "sqlite_wr_strict.db")
    if os.path.exists(p2):
        os.remove(p2)
    con = sqlite3.connect(p2)
    con.execute("CREATE TABLE wrs (k TEXT PRIMARY KEY, v INTEGER) "
                "WITHOUT ROWID, STRICT")
    con.execute("INSERT INTO wrs VALUES ('a', 1)")
    con.commit()
    con.close()
    print(f"wrote {p2} ({os.path.getsize(p2)} bytes)")

    # hot vs cold rollback journals: same tiny db, sibling -journal files
    for name, hot in (("sqlite_hot_journal.db", True),
                      ("sqlite_cold_journal.db", False)):
        p = os.path.join(RES, name)
        if os.path.exists(p):
            os.remove(p)
        con = sqlite3.connect(p)
        con.execute("CREATE TABLE t (x INTEGER)")
        con.execute("INSERT INTO t VALUES (1)")
        con.commit()
        con.close()
        magic = bytes([0xd9, 0xd5, 0x05, 0xf9, 0x20, 0xa1, 0x63, 0xd7])
        header = (magic if hot else b"\x00" * 8) + b"\x00" * 24
        with open(p + "-journal", "wb") as f:
            f.write(header)
        print(f"wrote {p} (+{'hot' if hot else 'cold'} journal)")


def gen_without_rowid():
    """WITHOUT ROWID tables: index-b-tree layout, PK-first record column
    permutation, interior index pages that carry real entries, index-page
    overflow thresholds, ALTER ADD COLUMN short records. A .sql dump twin
    is written alongside so the spec can hash-compare the binary read
    against the independent SqlDump path."""
    path = os.path.join(RES, "sqlite_without_rowid.db")
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    cur = con.cursor()
    cur.execute("PRAGMA page_size = 512")
    # simple single-column TEXT PK
    cur.execute("CREATE TABLE wr (k TEXT PRIMARY KEY, v INTEGER) WITHOUT ROWID")
    cur.executemany("INSERT INTO wr VALUES (?,?)",
                    [("a", 1), ("c", 3), ("b", 2)])
    # multi-column PK, PK columns NOT first in declaration and in a
    # different order than declared: record order is (a, b, v, extra)
    # while the declared order is (v, b, a, extra) — the permutation test
    cur.execute("CREATE TABLE wr_multi (v TEXT, b INTEGER, a TEXT, "
                "extra REAL, PRIMARY KEY (a, b)) WITHOUT ROWID")
    cur.executemany("INSERT INTO wr_multi VALUES (?,?,?,?)",
                    [("val1", 10, "k1", 1.5), ("val2", 20, "k1", 2.5),
                     ("val3", 5, "k2", None), (None, 7, "k3", 0.25)])
    # INTEGER PRIMARY KEY in a WITHOUT ROWID table is NOT a rowid alias —
    # the value is stored literally in the record; ids chosen so an alias
    # confusion (sequential small ints) would be visible
    cur.execute("CREATE TABLE wr_ipk (id INTEGER PRIMARY KEY, v TEXT) "
                "WITHOUT ROWID")
    cur.executemany("INSERT INTO wr_ipk VALUES (?,?)",
                    [(400, "x"), (150, "y")])
    # column-level PRIMARY KEY DESC: the b-tree stores keys descending
    cur.execute("CREATE TABLE wr_desc (k INTEGER PRIMARY KEY DESC, v TEXT) "
                "WITHOUT ROWID")
    cur.executemany("INSERT INTO wr_desc VALUES (?,?)",
                    [(1, "one"), (2, "two"), (3, "three")])
    # 3000 rows at 512-byte pages -> multi-level INDEX tree whose interior
    # cells hold real entries the traversal must yield (not separators)
    cur.execute("CREATE TABLE wr_many (grp TEXT, n INTEGER, sq INTEGER, "
                "PRIMARY KEY (grp, n)) WITHOUT ROWID")
    cur.executemany("INSERT INTO wr_many VALUES (?,?,?)",
                    [(f"g{n % 7}", n, n * n) for n in range(1, 3001)])
    # index-page overflow chains: a ~60 KB non-PK value AND a ~20 KB value
    # inside the PK itself (index maxLocal is smaller than table maxLocal,
    # so these exercise the index-specific threshold)
    big = ("0123456789" * 6000) + "END"
    bigkey = ("kkkkkkkkkk" * 2000) + "KEY"
    cur.execute("CREATE TABLE wr_overflow (k TEXT PRIMARY KEY, payload TEXT) "
                "WITHOUT ROWID")
    cur.executemany("INSERT INTO wr_overflow VALUES (?,?)",
                    [("big", big), (bigkey, "keyed"), ("small", "s")])
    # ALTER ADD COLUMN appends at the END of the record order, so the
    # pre-ALTER short records truncate at the tail and serve DEFAULTs
    cur.execute("CREATE TABLE wr_altered (k TEXT PRIMARY KEY, v INTEGER) "
                "WITHOUT ROWID")
    cur.executemany("INSERT INTO wr_altered VALUES (?,?)",
                    [("p", 1), ("q", 2)])
    cur.execute("ALTER TABLE wr_altered ADD COLUMN d INTEGER DEFAULT 9")
    cur.execute("INSERT INTO wr_altered VALUES ('r', 3, 33)")
    con.commit()
    # the .sql dump twin, read back through the independent SqlDump path
    dump = os.path.join(RES, "sqlite_without_rowid.sql")
    with open(dump, "w") as f:
        for line in con.iterdump():
            f.write(line + "\n")
    con.close()
    print(f"wrote {path} ({os.path.getsize(path)} bytes) + dump twin")


def gen_utf16():
    """UTF-16LE and UTF-16BE databases: every text value in the file —
    including the sqlite_master DDL — is stored in the 2-byte encoding,
    and serial-type lengths count BYTES, so a long value also checks the
    overflow math under UTF-16."""
    for suffix, pragma in (("le", "UTF-16le"), ("be", "UTF-16be")):
        p = os.path.join(RES, f"sqlite_utf16{suffix}.db")
        if os.path.exists(p):
            os.remove(p)
        con = sqlite3.connect(p)
        cur = con.cursor()
        cur.execute(f"PRAGMA encoding = '{pragma}'")
        cur.execute("PRAGMA page_size = 512")
        cur.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, x TEXT)")
        long_text = "étoile✓" * 3000  # ~42 KB in UTF-16 -> overflow chain
        cur.executemany("INSERT INTO t VALUES (?,?)",
                        [(1, "é"), (2, "plain"), (3, ""),
                         (4, "unicodé ✓ \U0001f600"), (5, None),
                         (6, long_text)])
        # a WITHOUT ROWID table in a UTF-16 db: both features at once
        cur.execute("CREATE TABLE twr (k TEXT PRIMARY KEY, v TEXT) "
                    "WITHOUT ROWID")
        cur.executemany("INSERT INTO twr VALUES (?,?)",
                        [("α", "alpha"), ("β", "beta")])
        con.commit()
        con.close()
        print(f"wrote {p} ({os.path.getsize(p)} bytes)")


def gen_views():
    """Persistent views stored in the file (sqlite_master type='view'):
    plain, aggregating, explicit-column-list, and view-on-view shapes,
    plus a string literal containing 'CREATE VIEW' that must not confuse
    the statement scanner. Dump twin written for the .sql path."""
    path = os.path.join(RES, "sqlite_views.db")
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    cur = con.cursor()
    cur.execute("CREATE TABLE people (id INTEGER PRIMARY KEY, name TEXT, "
                "age INTEGER, city TEXT)")
    cur.executemany("INSERT INTO people VALUES (?,?,?,?)",
                    [(1, "ann", 34, "oslo"), (2, "bob", 12, "oslo"),
                     (3, "cat", 19, "bergen"), (4, "dan", 71, "bergen"),
                     (5, "eve; CREATE VIEW fake AS SELECT 1", 25, "oslo")])
    cur.execute("CREATE VIEW adults AS SELECT id, name, age FROM people "
                "WHERE age >= 18")
    # view over a view, with an explicit output-column list
    cur.execute("CREATE VIEW v_cols (pid, pname) AS "
                "SELECT id, name FROM adults")
    cur.execute("CREATE VIEW city_counts AS "
                "SELECT city, count(*) AS n FROM people GROUP BY city")
    con.commit()
    dump = os.path.join(RES, "sqlite_views.sql")
    with open(dump, "w") as f:
        for line in con.iterdump():
            f.write(line + "\n")
    con.close()
    print(f"wrote {path} ({os.path.getsize(path)} bytes) + dump twin")


def gen_unsupported():
    """Tiny fixtures for the reader's remaining fail-loud paths."""
    p3 = os.path.join(RES, "sqlite_virtual.db")
    if os.path.exists(p3):
        os.remove(p3)
    con = sqlite3.connect(p3)
    con.execute("CREATE VIRTUAL TABLE ft USING fts5(content)")
    con.execute("INSERT INTO ft VALUES ('hello virtual world')")
    con.commit()
    con.close()
    print(f"wrote {p3} ({os.path.getsize(p3)} bytes)")
    # mixed: an ordinary table NEXT TO a virtual one — the graft-sqlite
    # DSv2 connector must serve the ordinary table per-table even though
    # whole-file open() rejects the file (SqliteV2Spec)
    p4 = os.path.join(RES, "sqlite_mixed.db")
    if os.path.exists(p4):
        os.remove(p4)
    con = sqlite3.connect(p4)
    con.execute("CREATE TABLE docs(id INTEGER PRIMARY KEY, body TEXT, score REAL)")
    for i in range(25):
        con.execute("INSERT INTO docs VALUES (?,?,?)", (i, f"doc body {i}", i * 0.5))
    con.execute("CREATE VIRTUAL TABLE ft USING fts5(body)")
    con.execute("INSERT INTO ft SELECT body FROM docs")
    con.commit()
    con.close()
    print(f"wrote {p4} ({os.path.getsize(p4)} bytes)")


def gen_empty_table():
    # a table with no rows next to one with a row: SqliteFileSpec checks
    # that ingest still lands the empty table, with its schema
    path = os.path.join(RES, "sqlite_empty_table.db")
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE empty (id INTEGER PRIMARY KEY, v TEXT, x REAL)")
    con.execute("CREATE TABLE one (a INTEGER)")
    con.execute("INSERT INTO one VALUES (1)")
    con.commit()
    con.close()
    print(f"wrote {path} ({os.path.getsize(path)} bytes)")


if __name__ == "__main__":
    gen_forestation()
    gen_edge_cases()
    gen_pk_forms()
    gen_without_rowid()
    gen_utf16()
    gen_views()
    gen_unsupported()
    gen_empty_table()
