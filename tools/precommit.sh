#!/usr/bin/env bash
# Pre-commit ritual (VERDICT r10 ask #1): regenerate COVERAGE_REGISTRY.md from
# the compiled registry whenever graft sources are staged, and stage the result,
# so the committed inventory can never drift from the code the commit ships.
# RegistryInventorySpec remains the hard gate; this hook just keeps it green.
# Install: ln -sf ../../tools/precommit.sh .git/hooks/pre-commit
set -euo pipefail
cd "$(git rev-parse --show-toplevel)"

# Nothing in src/main may go uncalled: every public member must be named by
# some caller, a spec, or be an entry point (an object defining main).
if ! unreferenced=$(python3 tools/ncloc.py --unreferenced); then
  printf '%s\n' "$unreferenced" | grep -v '\[specs only\]' >&2 || true
  echo "[precommit] src/main defines names nothing calls (tools/ncloc.py --unreferenced)" >&2
  exit 1
fi

if git diff --cached --name-only | grep -q '^src/main/scala/graft/'; then
  CLASSES=target/scala-2.13/classes
  if [ -f "$CLASSES/graft/tools/CoverageGen.class" ]; then
    # Only trust classes at least as new as every staged source they render
    # from. Incremental compilation rebuilds only affected .class files, so
    # compare against the NEWEST class file, not CoverageGen.class itself.
    REF=$(find "$CLASSES" -name '*.class' -printf '%T@ %p\n' | sort -rn | head -1 | cut -d' ' -f2-)
    [ -n "$REF" ] || REF="$CLASSES/graft/tools/CoverageGen.class"
    STALE=0
    while IFS= read -r f; do
      [ -f "$f" ] && [ "$f" -nt "$REF" ] && STALE=1
    done < <(git diff --cached --name-only | grep '^src/main/scala/graft/' || true)
    if [ "$STALE" = 1 ]; then
      echo "[precommit] staged sources newer than compiled classes — run 'sbt compile' first" >&2
      echo "[precommit] (CoverageGen would render a stale registry; aborting commit)" >&2
      exit 1
    fi
    java -cp "$CLASSES:/opt/spark/jars/*" graft.tools.CoverageGen COVERAGE_REGISTRY.md >/dev/null
    git add COVERAGE_REGISTRY.md
    echo "[precommit] COVERAGE_REGISTRY.md regenerated + staged"
  else
    echo "[precommit] WARNING: no compiled classes; cannot regenerate COVERAGE_REGISTRY.md" >&2
  fi
fi
