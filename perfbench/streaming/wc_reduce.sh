#!/bin/sh
# W3 wordcount reduce: the input is sorted, so equal keys are
# contiguous; count each run of keys and emit "key<TAB>count". Every
# value is 1 by the map's contract.
cut -f1 | uniq -c | awk '{print $2"\t"$1}'
