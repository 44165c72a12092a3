#!/usr/bin/env bash
# Full-suite gate: runs the benchmark's unit tests and `sbt test` and, on
# green, records a fingerprint of the exact src/ tree the suite ran against
# (.gate/green). The pre-commit hook (tools/pre-commit) refuses commits
# that touch src/ unless the current tree matches a recorded green run —
# making "snapshot only after a full green test run" mechanical instead of
# advisory (VERDICT r12/r13).
set -euo pipefail
cd "$(dirname "$0")/.."

# Fingerprint covers the build configuration too (build.sbt, project/),
# not just src/ — a green record must pin the exact build the suite ran
# under. NUL-delimited so whitespace in a path can never split a name.
tree_hash() {
  { find src -name '*.scala' -type f -print0;
    find project -type f \( -name '*.sbt' -o -name '*.scala' -o -name '*.properties' \) -print0 2>/dev/null;
    printf 'build.sbt\0'; } \
    | LC_ALL=C sort -z | xargs -0 sha256sum | sha256sum | cut -d' ' -f1
}

before=$(tree_hash)
# The benchmark's own tests first: a green fingerprint also certifies the
# harness that measures the engine.
python3 -m unittest discover -s perfbench -p 'test_*.py'
sbt test
after=$(tree_hash)
if [[ "$before" != "$after" ]]; then
  echo "gate: src/ changed while the suite was running — re-run tools/gate.sh" >&2
  exit 1
fi
mkdir -p .gate
echo "$after" > .gate/green
echo "gate: GREEN for src tree $after"
