#!/usr/bin/env python3
"""Provenance hygiene scan (VERDICT r6 #5 / r7 #5: self-evidencing runs).

Scans every git-tracked source/doc file for content that must never appear
in a from-public-knowledge build: imports outside the known-public
namespaces, non-public URLs, cloud bucket URIs, chat-workspace links,
credential-shaped strings, and suspicious environment variables. Emits
LEAKCHECK.json with `scanned_at` and `files_scanned` so a fresh 0-hit run
is distinguishable from a stale copy of a previous round's file.

Usage: python3 scripts/leakcheck.py <round> [outFile]
"""
import datetime, json, re, subprocess, sys

# Public namespaces this project may import from (build.sbt's world). Jackson
# and the two netlib ARPACK packages ship in Spark's own jars/
# (jackson-databind, arpack, arpack_combined_all).
PUBLIC_IMPORT = re.compile(
    r"^\s*import\s+(?!(?:org\.apache\.|org\.scalatest|org\.scalacheck|"
    r"scala\.|java\.|javax\.|breeze\.|graft\b|graft\.|"
    r"com\.fasterxml\.jackson\.|dev\.ludovic\.netlib\.|org\.netlib\.util\.))(\S+)", re.M)
# Session-value imports (`spark.implicits._`, `ds.sparkSession.implicits._`)
# are local identifiers, not packages.
VALUE_IMPORT = re.compile(r"\bimplicits\b")
# URLs outside well-known public hosts.
PUBLIC_HOSTS = (
    "apache.org", "scala-lang.org", "scalatest.org", "github.com",
    "duckdb.org", "wikipedia.org", "arxiv.org", "doi.org", "acm.org",
    "example.com", "localhost")
URL = re.compile(r"https?://([\w.-]+)[^\s\"')>]*")
BUCKET = re.compile(r"\b(?:s3a?|gs|abfss?|wasbs?)://[\w./-]+")
SLACK = re.compile(r"\b[\w-]+\.slack\.com\b|\bslack://", re.I)
API_KEY = re.compile(
    r"\b(?:AKIA[0-9A-Z]{16}|sk-[A-Za-z0-9]{20,}|ghp_[A-Za-z0-9]{36}|"
    r"xox[baprs]-[A-Za-z0-9-]{10,})\b")
# Env vars read by the code must be the documented SPARK_GRAFT_* knobs
# (or the standard JVM/Spark ones).
ENV = re.compile(r"sys\.env(?:\.get(?:OrElse)?)?\(\s*\"(?!SPARK_)(\w+)\"")

# The import probe is Scala-shaped; running it on Python files flags every
# stdlib import.
CATEGORIES = {
    "internal-import": lambda t, f: [] if not f.endswith((".scala", ".sbt"))
        else [m.group(1) for m in PUBLIC_IMPORT.finditer(t)
              if not VALUE_IMPORT.search(m.group(1))],
    "internal-url": lambda t, f: [
        m.group(0) for m in URL.finditer(t)
        if not any(m.group(1).endswith(h) for h in PUBLIC_HOSTS)],
    "internal-bucket": lambda t, f: BUCKET.findall(t),
    "slack-link": lambda t, f: SLACK.findall(t),
    "api-key": lambda t, f: API_KEY.findall(t),
    "suspect-env": lambda t, f: ENV.findall(t),
}

def main():
    rnd = int(sys.argv[1])
    out = sys.argv[2] if len(sys.argv) > 2 else "LEAKCHECK.json"
    files = subprocess.run(
        ["git", "ls-files",
         "*.scala", "*.sbt", "*.py", "*.sh", "*.md", "*.sql"],
        capture_output=True, text=True, check=True).stdout.split()
    # VERDICT/ADVICE/PAPERS/SNIPPETS are judge/retrieval-authored inputs,
    # not build outputs; the scan covers what the builder ships.
    skip = ("VERDICT", "ADVICE", "PAPERS", "SNIPPETS", "BASELINE")
    files = [f for f in files if not f.split("/")[-1].startswith(skip)]
    hits = {k: [] for k in CATEGORIES}
    for f in files:
        try:
            text = open(f, encoding="utf-8", errors="replace").read()
        except OSError:
            continue
        for cat, probe in CATEGORIES.items():
            hits[cat] += [f"{f}: {h}" for h in probe(text, f)]
    doc = {
        "round": rnd,
        "scanned_at": datetime.datetime.now(datetime.timezone.utc)
            .isoformat(timespec="seconds"),
        "files_scanned": len(files),
        "n_hits": sum(len(v) for v in hits.values()),
        "hits": hits,
    }
    json.dump(doc, open(out, "w"), indent=2)
    open(out, "a").write("\n")
    print(f"{out}: {len(files)} files, {doc['n_hits']} hits")
    sys.exit(1 if doc["n_hits"] else 0)

if __name__ == "__main__":
    main()
