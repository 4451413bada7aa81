#!/bin/sh
# W1 wordcount map: every space or tab ends a token (so runs of
# separators, and leading/trailing ones, yield empty tokens), tokens
# are lowercased, and each is emitted as "token<TAB>1".
tr '[ \t]' '\n' | tr '[:upper:]' '[:lower:]' | awk '{print $1"\t1"}'
