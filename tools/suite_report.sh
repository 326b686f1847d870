#!/usr/bin/env bash
# Summarize the just-finished `sbt test` run's JUnit XML reports
# (sbt writes target/test-reports/*.xml per suite) into a one-line
# committed artifact, so a round's closing claim and its evidence of
# record cannot diverge silently: target/ is overwritten by every later
# run, which is how r16's "final suite re-run green (554/0)" commit
# ended up contradicted by a 554/4 report on disk.
#
# Usage: tools/suite_report.sh SUITE_r17.json   (run right after sbt test)
set -euo pipefail
out="${1:?usage: suite_report.sh <out.json>}"
dir="target/test-reports"
[ -d "$dir" ] || { echo "no $dir — run sbt test first" >&2; exit 1; }

# Every <testcase> of report $2 with a <failure> or <error> child, as
# JSON strings "<suite $1>::<test name>" (the name form the suite
# prints), each followed by a comma. Records split at "<", which no
# attribute value holds unescaped.
failing_cases() {
  awk -v suite="$1" '
    # JSON-escape character c of s (by split, not gsub: awks disagree on
    # backslashes in a replacement)
    function esc(s, c,   n, parts, i, out) {
      n = split(s, parts, c); out = parts[1]
      for (i = 2; i <= n; i++) out = out "\\" c parts[i]
      return out
    }
    BEGIN { RS = "<" }
    /^testcase[ \t\n]/ {
      cur = ""
      if (match($0, / name="[^"]*"/)) cur = substr($0, RSTART + 7, RLENGTH - 8)
      if ($0 ~ /\/>[ \t\n]*$/) cur = "" # self-closing: no child
      next
    }
    /^\/testcase/ { cur = ""; next }
    /^(failure|error)[ \t\n\/>]/ && cur != "" {
      s = cur; cur = "" # one entry per test, however many children
      gsub(/&quot;/, "\"", s); gsub(/&apos;/, "\047", s)
      gsub(/&lt;/, "<", s); gsub(/&gt;/, ">", s); gsub(/&amp;/, "\\&", s)
      s = esc(esc(s, "\\"), "\"")
      printf "\"%s::%s\",", suite, s
    }' "$2"
}

suites=0 tests=0 failures=0 errors=0 skipped=0
failing_suites=""
failing_tests=""
timings=""   # one "<seconds> <suite>" line per suite
for f in "$dir"/*.xml; do
  header=$(grep -o '<testsuite[^>]*>' "$f" | head -1)
  attr() { echo "$header" | grep -o " $1=\"[0-9.]*\"" | head -1 | grep -o '[0-9.]*' || echo 0; }
  t=$(attr tests); fl=$(attr failures); er=$(attr errors); sk=$(attr skipped)
  suites=$((suites + 1)); tests=$((tests + t))
  failures=$((failures + fl)); errors=$((errors + er)); skipped=$((skipped + sk))
  name=$(echo "$header" | sed -n 's/.* name="\([^"]*\)".*/\1/p')
  timings="$timings$(attr time) ${name##*.}"$'\n'
  if [ "$((fl + er))" -gt 0 ]; then
    failing_suites="$failing_suites\"$name\","
    failing_tests="$failing_tests$(failing_cases "$name" "$f")"
  fi
done
failing_suites="[${failing_suites%,}]"
failing_tests="[${failing_tests%,}]"
# suite wall time: the sum of every suite's `time` attribute, and the
# three slowest suites — a run's duration is part of its record
time_s=$(printf '%s' "$timings" | awk '{s += $1} END {printf "%.1f", s}')
slowest=$(printf '%s' "$timings" | sort -rn | head -3 |
  awk '{printf "%s{\"suite\":\"%s\",\"time_s\":%.1f}", (NR > 1 ? "," : ""), $2, $1}')

newest=$(ls -t "$dir"/*.xml | head -1)
oldest=$(ls -tr "$dir"/*.xml | head -1)
run_start=$(date -u -r "$oldest" +%Y-%m-%dT%H:%M:%SZ)
run_end=$(date -u -r "$newest" +%Y-%m-%dT%H:%M:%SZ)
sha=$(git rev-parse HEAD 2>/dev/null || echo unknown)
dirty=$(git status --porcelain 2>/dev/null | grep -cv '^$' || true)

line=$(printf '{"suites":%d,"tests":%d,"failures":%d,"errors":%d,"skipped":%d,"failing_suites":%s,"failing_tests":%s,"time_s":%s,"slowest_suites":[%s],"report_oldest_utc":"%s","report_newest_utc":"%s","git_sha":"%s","uncommitted_files_at_report":%d,"written_utc":"%s"}' \
  "$suites" "$tests" "$failures" "$errors" "$skipped" "$failing_suites" "$failing_tests" "$time_s" "$slowest" \
  "$run_start" "$run_end" "$sha" "$dirty" "$(date -u +%Y-%m-%dT%H:%M:%SZ)")
echo "$line" | tee "$out"
